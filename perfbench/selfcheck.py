#!/usr/bin/env python3
"""Self-check of the benchmark at a tiny size.

Usage, from the root of a checkout:

    python3 perfbench/selfcheck.py

For every workload, untraced and traced, runs perfbench/run.py on tiny
inputs and asserts that the last line is the result object, that the
correctness checks passed, that every metric BENCHMARK.json names is
printed with its unit, that the end-to-end metrics are positive, and that
the layers the workload drives report work. Then checks that the
benchmark refuses to run, without printing a result, in a directory that
holds only BENCHMARK.json and the benchmark's files. Exits non-zero on the
first failed assertion.
"""
import json
import math
import os
import shutil
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)
import run  # noqa: E402  (the benchmark's own metric lists)

# per-layer metrics each workload must report as non-zero work
DRIVES = {
    "ingest_stream": ["ingest.parse_rows_per_s", "ingest.parse_rows_per_s_1task",
                      "streaming.batches", "streaming.batch_ms_p50",
                      "streaming.source_reads_per_stored_row",
                      "streaming.ratelimit_batch_ms_p50",
                      "store.files", "store.bytes_per_row"],
    "trends_serving": ["store.files", "store.files_scanned_per_query",
                       "operators.trends_ms_p50", "operators.windows_per_query",
                       "serving.miss_ms_p50",
                       "serving.computes_per_missed_key", "serving.page_us_p50"],
    "query_board": ["registry.board_s", "registry.jobs", "registry.tasks"]
                   + [f"registry.jobs.{q}" for q in run.BOARD],
}
RESULT_KEYS = {"correct", "attempted", "failed", "metrics"}


def check(cond, what):
    if not cond:
        raise SystemExit(f"selfcheck FAILED: {what}")


def run_bench(cwd, workload, trace):
    cmd = [sys.executable, "perfbench/run.py", "--workload", workload, "--seed", "7",
           "--seconds", "3", "--trace", str(trace), "--scale", "0.05"]
    p = subprocess.run(cmd, cwd=cwd, capture_output=True, text=True, timeout=600)
    return p.returncode, p.stdout, p.stderr


def main():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    e2e = {m["name"]: m["unit"] for m in bench["end_to_end"]}
    layer = {m["name"]: m["unit"] for m in bench["per_layer"]}
    check(e2e == run.END_TO_END, "BENCHMARK.json end_to_end differs from run.py")
    check(layer == run.PER_LAYER, "BENCHMARK.json per_layer differs from run.py")
    listed = {w["name"] for w in bench["workloads"]}
    check(listed <= set(run.WORKLOADS), "BENCHMARK.json names an unknown workload")

    for workload in run.WORKLOADS:
        for trace in (0, 1):
            code, out, err = run_bench(ROOT, workload, trace)
            check(code == 0, f"{workload} trace={trace} exited {code}:\n{err[-3000:]}")
            res = json.loads(out.strip().splitlines()[-1])
            check(set(res) == RESULT_KEYS, f"{workload}: result keys {sorted(res)}")
            check(res["correct"] is True and res["failed"] == 0,
                  f"{workload} trace={trace}: correctness checks failed:\n{err[-3000:]}")
            check(isinstance(res["attempted"], int) and res["attempted"] >= 1,
                  f"{workload}: attempted {res['attempted']}")
            want = layer if trace else e2e
            got = res["metrics"]
            check(set(got) == set(want), f"{workload} trace={trace}: metric names differ: "
                  f"{sorted(set(got) ^ set(want))}")
            for name, unit in want.items():
                v = got[name]
                check(v["unit"] == unit, f"{workload}: {name} unit {v['unit']} != {unit}")
                check(isinstance(v["value"], (int, float)) and math.isfinite(v["value"]),
                      f"{workload}: {name} = {v['value']}")
                if not trace:
                    check(v["value"] > 0, f"{workload}: {name} = {v['value']}")
            if trace:
                for name in DRIVES[workload]:
                    check(got[name]["value"] > 0, f"{workload}: {name} reported no work")
            print(f"ok {workload} trace={trace}", flush=True)

    # a directory with only BENCHMARK.json and the benchmark must be refused
    bare = os.path.join(run.BUILD, "selfcheck-bare")
    shutil.rmtree(bare, ignore_errors=True)
    os.makedirs(bare)
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), bare)
    def build_outputs(d, names):
        # sbt's target/ dirs and its generated project/project/
        return [n for n in names if n in ("target", "__pycache__")
                or (n == "project" and os.path.basename(d) == "project")]
    shutil.copytree(HERE, os.path.join(bare, "perfbench"), ignore=build_outputs)
    code, out, _ = run_bench(bare, bench["workloads"][0]["name"], 0)
    shutil.rmtree(bare, ignore_errors=True)
    check(code != 0, "the benchmark ran without the program's sources")
    check(not out.strip(), "the benchmark printed a result without the program's sources")
    print("ok refuses to run without the program", flush=True)


if __name__ == "__main__":
    main()
