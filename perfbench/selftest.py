#!/usr/bin/env python3
"""Self-tests of the stream benchmark. Run from the root of a checkout:

    python3 perfbench/selftest.py

1. A tiny (sf0.001-sized) run of every workload, untraced and traced,
   passes its output check and prints every metric BENCHMARK.json names,
   with its unit; the traced run measures the layers the workload exists
   for (they read non-zero).
2. A deliberately corrupted output is caught: every operation fails.
3. In a directory holding only BENCHMARK.json and perfbench/, the benchmark
   exits non-zero without printing a result.

Exits 0 when all hold; prints one line per check.
"""
import json
import os
import shutil
import subprocess
import sys

ROOT = os.getcwd()
RUN = os.path.join(os.path.dirname(os.path.abspath(__file__)), "run.py")
# per-layer metrics each workload must measure (a layer it does not touch
# reads 0, so a metric silently not measured would pass the name check)
MEASURED = {
    "dsjoin_hot": ["spark.jobs_per_batch", "runtime.trigger_ms_p50", "runtime.stage_s",
                   "cache.fetch_ms_p50", "kv.write_s", "kv.fetch_calls"],
    "dsimjoin": ["spark.cpu_ms_per_batch", "cache.fetch_ms_p50", "cache.update_ms_p50",
                 "cache.missed_keys", "simjoin.pairs_out", "simjoin.pairs_per_cpu_s"],
    "dedup_txnlog": ["spark.jobs_per_batch", "state.append_ms_p50", "state.appends",
                     "state.compactions", "state.reads", "state.bytes_end"],
}
COMMON = ["jvm.start_s", "host.sentinel_ms", "scale.k_over_1"]


def bench(*args, cwd=ROOT):
    r = subprocess.run([sys.executable, RUN, "--seed", "7", "--seconds", "1"] + list(args),
                       cwd=cwd, stdout=subprocess.PIPE, stderr=subprocess.PIPE, text=True,
                       timeout=600)
    lines = r.stdout.strip().splitlines()
    return r.returncode, (json.loads(lines[-1]) if r.returncode == 0 and lines else None), r.stderr


def main():
    spec = json.load(open(os.path.join(ROOT, "BENCHMARK.json")))
    failures = []

    def expect(ok, what):
        print(("ok   " if ok else "FAIL ") + what)
        if not ok:
            failures.append(what)

    for w in [x["name"] for x in spec["workloads"]]:
        for trace, group in ((0, "end_to_end"), (1, "per_layer")):
            code, res, err = bench("--workload", w, "--trace", str(trace), "--tiny")
            if res is None:
                expect(False, f"{w} trace={trace}: exit {code}\n{err[-2000:]}")
                continue
            expect(res["correct"] and res["failed"] == 0 and res["attempted"] >= 1,
                   f"{w} trace={trace}: output check passes")
            want = {m["name"]: m["unit"] for m in spec[group]}
            got = {k: v["unit"] for k, v in res["metrics"].items()}
            expect(got == want, f"{w} trace={trace}: emits every {group} metric with its unit")
            if trace:
                zero = [m for m in MEASURED.get(w, []) + COMMON
                        if res["metrics"].get(m, {}).get("value", 0) <= 0]
                expect(not zero, f"{w} trace=1: measures its layers (zero: {zero})")
        code, res, err = bench("--workload", w, "--trace", "0", "--tiny", "--corrupt")
        expect(res is not None and not res["correct"] and res["failed"] == res["attempted"],
               f"{w}: corrupted output is caught")

    bare = os.path.join(ROOT, ".bench_build", "selftest-bare")
    shutil.rmtree(bare, ignore_errors=True)
    os.makedirs(bare)
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), bare)
    for p in spec["paths"]:
        shutil.copytree(os.path.join(ROOT, p), os.path.join(bare, p))
    code, res, _ = bench("--workload", spec["workloads"][0]["name"], "--trace", "0", cwd=bare)
    shutil.rmtree(bare, ignore_errors=True)
    expect(code != 0 and res is None, "bare directory: exits non-zero without a result")

    sys.exit(1 if failures else 0)


if __name__ == "__main__":
    main()
