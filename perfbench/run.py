"""graft benchmark: one workload, one seed, one run.

Usage (from the repository root):
  python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Builds the program from source (perfbench/build.py), generates the seeded
corpus (perfbench/corpus.py), computes the DuckDB oracle for it, runs the JVM
harness (perfbench/src) as one closed-loop client on local[nproc], checks
every output and prints each metric by name with its unit. The last line of
standard output is the result:
  {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}
With --trace 0 the metrics are the end-to-end ones, with --trace 1 the
per-layer ones of a separate traced run. Everything the run writes stays
under the build directory ($CARGO_TARGET_DIR, default .bench_build).
"""
import argparse
import json
import os
import shutil
import statistics
import subprocess
import sys

sys.dont_write_bytecode = True
sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import build  # noqa: E402
import corpus  # noqa: E402
import oracle  # noqa: E402

# Why each workload is here, what it runs on, and what it leaves out, is in
# perfbench/README.md. `sf` is the corpus scale, `blobs` adds the blob table.
WORKLOADS = {
    "small_sf0.1": {"sf": 0.1, "blobs": False},
    "age_crypto": {"sf": 0.02, "blobs": True},
}
HEAP = "3g"
TINY = {"sf": 0.005, "blob_count": 8, "blob_bytes": 64 << 10}
JVM_TIMEOUT_S = 150

END_TO_END_UNITS = {
    "setup_s": "s", "pass_s": "s", "query_slowdown_p90": "ratio",
    "cpu_s": "s", "heap_live_mb": "MB", "failed_frac": "fraction",
    "encrypt_write_s": "s", "read_decrypt_s": "s", "warmup_s": "s",
    "setup_restart_s": "s",
}


def layer_unit(name):
    if name.endswith("_mb_s"):
        return "MiB/s"
    if name.endswith("_s"):
        return "s"
    if name.endswith("_us"):
        return "us"
    if name.endswith("_mb"):
        return "MB"
    if name.endswith("ns_per_row"):
        return "ns/row"
    if name.endswith(("_ratio", "_share", "_util")):
        return "ratio"
    if name.endswith("bytes"):
        return "bytes"
    return "count"


def end_to_end(res, workload):
    passes = res["passes"]
    by_call = {}
    for p in passes:
        for c in p["calls"]:
            by_call.setdefault(c["name"], []).append(c)

    # one pass: the sum over its calls of each call's median over the passes
    def pass_sum(key, prefix=""):
        return sum(statistics.median(c[key] for c in cs)
                   for name, cs in by_call.items() if name.startswith(prefix))

    slowdowns = [c["wall_s"] / statistics.median(x["wall_s"] for x in cs)
                 for cs in by_call.values() for c in cs]
    attempted = res["attempted"]
    m = {
        "setup_s": res["setup_s"],
        "pass_s": pass_sum("wall_s"),
        "query_slowdown_p90": statistics.quantiles(slowdowns, n=10)[-1]
        if len(slowdowns) > 1 else 1.0,
        "cpu_s": pass_sum("cpu_s"),
        "heap_live_mb": res["heap_live_mb"],
        "failed_frac": res["failed"] / attempted,
        "warmup_s": res["warmup_s"],
    }
    if res["restarts_s"]:
        m["setup_restart_s"] = statistics.median(res["restarts_s"])
    if workload.startswith("age"):
        m["encrypt_write_s"] = pass_sum("wall_s", "encrypt")
        m["read_decrypt_s"] = pass_sum("wall_s", "decrypt")
    return {k: {"value": v, "unit": END_TO_END_UNITS[k]} for k, v in m.items()}


def per_layer(res):
    return {k: {"value": v, "unit": layer_unit(k)}
            for k, v in sorted(res["layers"].items())}


def contract_metrics(root, metrics, trace):
    """The metrics BENCHMARK.json lists for this kind of run, in its order."""
    with open(os.path.join(root, "BENCHMARK.json")) as f:
        spec = json.load(f)
    names = [m["name"] for m in spec["per_layer" if trace else "end_to_end"]]
    missing = [n for n in names if n not in metrics]
    if missing:
        raise RuntimeError(f"run produced no value for {missing}")
    return {n: metrics[n] for n in names}


def run_jvm(cmd, log_path):
    with open(log_path, "w") as log:
        proc = subprocess.Popen(cmd, stdout=log, stderr=subprocess.STDOUT)
        try:
            return proc.wait(timeout=JVM_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
            raise


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], required=True)
    ap.add_argument("--tiny", action="store_true",
                    help="self-test scale: a tiny corpus and few small blobs")
    args = ap.parse_args()

    root = os.getcwd()
    build_dir = os.path.join(root, os.environ.get("CARGO_TARGET_DIR", ".bench_build"),
                             "perfbench")
    wl = WORKLOADS[args.workload]
    sf = TINY["sf"] if args.tiny else wl["sf"]

    classes = build.build(root, build_dir)
    oracle_sql_path = os.path.join(build_dir, "oracle_sql.json")
    java = build.java_command(classes, HEAP)
    if not os.path.exists(oracle_sql_path) or \
            os.path.getmtime(oracle_sql_path) < os.path.getmtime(classes):
        subprocess.run(java + ["perfbench.Harness", "--oracle-sql", oracle_sql_path],
                       check=True, stdout=sys.stderr, timeout=120)
    with open(oracle_sql_path) as f:
        oracle_sql = json.load(f)

    cache = os.path.join(build_dir, "corpus")
    corpus_dir = corpus.ensure(cache, args.seed, sf)
    manifest = corpus.check(corpus_dir)
    blobs_dir = ""
    if wl["blobs"]:
        blobs_dir = corpus.ensure_blobs(cache, args.seed, TINY["blob_count"], TINY["blob_bytes"]) \
            if args.tiny else corpus.ensure_blobs(cache, args.seed)
        corpus.check(blobs_dir)

    work = os.path.join(build_dir, "runs", f"{args.workload}_seed{args.seed}_trace{args.trace}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    cpus = len(os.sched_getaffinity(0))  # what nproc prints
    result_path = os.path.join(work, "result.json")
    log4j = os.path.join(os.path.dirname(os.path.abspath(__file__)), "log4j2.properties")
    cmd = java[:1] + [f"-Djava.io.tmpdir={work}/tmp", f"-Dlog4j2.configurationFile={log4j}",
                      "-Dspark.ui.enabled=false"] + java[1:] + [
        "perfbench.Harness", "--workload", args.workload, "--corpus", corpus_dir,
        "--blobs", blobs_dir, "--work", work, "--seed", str(args.seed),
        "--seconds", str(args.seconds), "--trace", str(args.trace),
        "--cpus", str(cpus), "--restarts", "0" if args.trace else "2",
        "--out", result_path]
    os.makedirs(os.path.join(work, "tmp"), exist_ok=True)
    code = run_jvm(cmd, os.path.join(work, "harness.log"))
    if code != 0 or not os.path.exists(result_path):
        sys.stderr.write(open(os.path.join(work, "harness.log")).read()[-4000:])
        raise RuntimeError(f"harness exited with {code}")
    with open(result_path) as f:
        res = json.load(f)

    # output check: the warm-up wrote every query's output
    mismatches = {}
    if not args.workload.startswith("age"):
        oracle.ensure(corpus_dir, oracle_sql, list(res["parallelism"]))
        failed_calls = {e.split(":")[0] for e in res["errors"]}
        for p in res["parallelism"]:
            if p not in failed_calls:
                why = oracle.compare(corpus_dir, oracle_sql, os.path.join(work, "output"), p)
                if why:
                    mismatches[p] = why
    failed = res["failed"] + len(mismatches)
    res["failed"] = failed

    e2e = end_to_end(res, args.workload)
    layers = per_layer(res) if args.trace else {}
    report = {
        "workload": args.workload, "seed": args.seed, "trace": args.trace, "sf": sf,
        "corpus": {"bytes": manifest["bytes"], "rows": manifest["rows"],
                   "tables": manifest["tables"]},
        "end_to_end": {} if args.trace else e2e, "per_layer": layers,
        "passes": len(res["passes"]), "traced_passes": len(res["traced_passes"]),
        "errors": res["errors"], "oracle_mismatches": mismatches,
        "confs": res["confs"], "parallelism": res["parallelism"],
        "context": res["context"], "spans_file": res["spans_file"],
    }
    with open(os.path.join(work, "report.json"), "w") as f:
        json.dump(report, f, indent=1)
    for d in ("output", "spark-local", "warehouse", "tmp") + \
            tuple(e for e in os.listdir(work) if e.startswith("ciphertext_")):
        shutil.rmtree(os.path.join(work, d), ignore_errors=True)

    # a traced run's end-to-end numbers carry the tracer, so it shows layers only
    for name, m in (layers if args.trace else e2e).items():
        print(f"{name:40s} {m['value']:.6g} {m['unit']}")
    print(f"context: steal_jiffies={res['context']['steal_jiffies']} "
          f"loadavg={res['context']['loadavg_start']}->{res['context']['loadavg_end']} "
          f"report={os.path.relpath(os.path.join(work, 'report.json'), root)}")
    for e in res["errors"]:
        print(f"FAILED {e}")
    for q, why in mismatches.items():
        print(f"MISMATCH {q}: {why}")
    metrics = contract_metrics(root, layers if args.trace else e2e, args.trace)
    print(json.dumps({"correct": failed == 0, "attempted": res["attempted"],
                      "failed": failed, "metrics": metrics}))


if __name__ == "__main__":
    try:
        main()
    except Exception as e:  # no result line: the run did not measure
        sys.stderr.write(f"perfbench: {type(e).__name__}: {e}\n")
        sys.exit(2)
