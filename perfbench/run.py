#!/usr/bin/env python3
"""Stream benchmark entry point.

Run from the root of a source checkout:

    python3 perfbench/run.py --workload dsjoin_hot --seed 1 --seconds 10 --trace 0

It compiles the program (src/main/scala) together with the harness
(perfbench/scala) into .bench_build/ on first use, then runs one fresh JVM
for the workload and prints the harness's info lines followed by one JSON
result line, always the last line of stdout. See perfbench/README.md.
"""
import argparse
import hashlib
import json
import os
import re
import shutil
import subprocess
import sys
import time

ROOT = os.getcwd()
HERE = os.path.dirname(os.path.abspath(__file__))
SRC = os.path.join(ROOT, "src", "main", "scala")
HARNESS = os.path.join(HERE, "scala")
BUILD = os.path.join(ROOT, ".bench_build")
CLASSES = os.path.join(BUILD, "classes")
HEAP = "2g"
RUN_TIMEOUT_S = 170

# Spark 4 on JDK 17 needs these when the session is created outside
# spark-submit (the list spark-submit itself passes).
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def spark_jars():
    """The Spark distribution's jar directory (it also ships the Scala
    compiler): $SPARK_HOME, else the one next to spark-submit on PATH, else
    the directory the sbt build names."""
    cands = []
    if os.environ.get("SPARK_HOME"):
        cands.append(os.path.join(os.environ["SPARK_HOME"], "jars"))
    sub = shutil.which("spark-submit")
    if sub:
        cands.append(os.path.join(os.path.dirname(os.path.realpath(sub)), "..", "jars"))
    build_sbt = os.path.join(ROOT, "build.sbt")
    if os.path.isfile(build_sbt):
        m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', open(build_sbt).read())
        if m:
            cands.append(m.group(1))
    for c in cands:
        if glob_one(c, "scala-compiler-"):
            return os.path.realpath(c)
    fail("no Spark jar directory with a Scala compiler found (set SPARK_HOME)")


def glob_one(d, prefix):
    return os.path.isdir(d) and any(f.startswith(prefix) for f in os.listdir(d))


def sources(d):
    out = []
    for base, _, files in os.walk(d):
        out += [os.path.join(base, f) for f in files if f.endswith(".scala")]
    return sorted(out)


def build(jars):
    """Compile program + harness once per source state; later runs reuse it.
    Returns the source state's hash."""
    srcs = sources(SRC) + sources(HARNESS)
    h = hashlib.sha256(jars.encode())
    for f in srcs:
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    stamp = os.path.join(CLASSES, ".stamp")
    if os.path.isfile(stamp) and open(stamp).read() == h.hexdigest():
        return h.hexdigest()
    shutil.rmtree(CLASSES, ignore_errors=True)
    os.makedirs(CLASSES)
    t = time.time()
    cmd = ["java", "-XX:-UsePerfData", "-Xss8m", "-Xmx3g", "-cp", os.path.join(jars, "*"),
           "scala.tools.nsc.Main", "-usejavacp", "-nowarn", "-classpath", CLASSES,
           "-d", CLASSES] + srcs
    r = subprocess.run(cmd, stdout=sys.stderr, stderr=sys.stderr, timeout=800)
    if r.returncode != 0:
        shutil.rmtree(CLASSES, ignore_errors=True)
        fail("compilation failed")
    with open(stamp, "w") as fh:
        fh.write(h.hexdigest())
    print(f"perfbench: built {len(srcs)} sources in {time.time() - t:.1f} s", file=sys.stderr)
    return h.hexdigest()


def load_spec():
    """BENCHMARK.json names the workloads, the metrics and their units."""
    try:
        return json.load(open(os.path.join(ROOT, "BENCHMARK.json")))
    except (OSError, ValueError) as e:
        fail(f"cannot read BENCHMARK.json: {e}")


def metrics(spec, group, values):
    """The JVM's values as the result's metrics, in BENCHMARK.json's order
    and units. Every end-to-end metric must have been measured; a per-layer
    metric of a layer the workload does not touch reads 0."""
    unknown = set(values) - {m["name"] for m in spec["end_to_end"] + spec["per_layer"]}
    if unknown:
        fail(f"metrics missing from BENCHMARK.json: {sorted(unknown)}")
    out = {}
    for m in spec[group]:
        if m["name"] not in values and group == "end_to_end":
            fail(f"end-to-end metric {m['name']} was not measured")
        out[m["name"]] = {"value": values.get(m["name"], 0.0), "unit": m["unit"]}
    return out


def main():
    spec = load_spec()
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=[w["name"] for w in spec["workloads"]])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    ap.add_argument("--tiny", action="store_true", help="sf0.001-sized inputs (self-test)")
    ap.add_argument("--corrupt", action="store_true",
                    help="perturb the program's output before the check (self-test)")
    a = ap.parse_args()

    if not os.path.isdir(SRC):
        fail(f"no program sources at {os.path.relpath(SRC, ROOT)}; run from the root of a checkout")
    jars = spark_jars()
    # work counts are compared only between runs of the same code
    state = os.path.join(BUILD, "state", build(jars)[:16])

    cores = max(1, len(os.sched_getaffinity(0)) - 1)
    tmp = os.path.join(BUILD, f"run-{os.getpid()}")
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    result = os.path.join(tmp, "result.json")
    cmd = (["java"] + [f"--add-opens={p}=ALL-UNNAMED" for p in ADD_OPENS] +
           ["-Djdk.reflect.useDirectMethodHandle=false",
            "-Dio.netty.tryReflectionSetAccessible=true",
            f"-Xms{HEAP}", f"-Xmx{HEAP}", "-Xss8m",
            # no hsperfdata file outside the checkout
            "-XX:-UsePerfData",
            # C1 only. C2 needs 16+ micro-batches to settle, more than a run
            # can spend, and its compiler threads compete with local[k] for
            # the cores; C1's ramp is shorter (see README.md).
            "-XX:TieredStopAtLevel=1",
            # the tiered JIT's code cache size; C1-only mode defaults to
            # 48 MB, which dedup_txnlog fills in its fourth pass, and the
            # flush and recompilation then cost 7-10 s of CPU
            "-XX:ReservedCodeCacheSize=240m",
            f"-Djava.io.tmpdir={tmp}",
            "-cp", CLASSES + os.pathsep + os.path.join(jars, "*"),
            "perfbench.Main",
            "--workload", a.workload, "--seed", str(a.seed), "--seconds", str(a.seconds),
            "--trace", str(a.trace), "--cores", str(cores), "--result", result,
            "--tmp", tmp, "--state", state,
            "--warm-bound", str(next(m["bound"] for m in spec["end_to_end"]
                                     if m["name"] == "rows_per_s"))] +
           (["--tiny"] if a.tiny else []) + (["--corrupt"] if a.corrupt else []))
    log_path = os.path.join(tmp, "jvm.log")
    with open(log_path, "w") as log:
        proc = subprocess.Popen(cmd, stdout=subprocess.PIPE, stderr=log, text=True)
        try:
            out, _ = proc.communicate(timeout=RUN_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            proc.kill()
            out, _ = proc.communicate()
    with open(log_path, errors="replace") as fh:
        log_lines = fh.read().splitlines()
    res = json.load(open(result)) if os.path.isfile(result) else None
    shutil.rmtree(tmp, ignore_errors=True)
    # drift warnings always reach stderr; the whole log tail only on failure
    for l in log_lines:
        if "DRIFT" in l:
            print(l, file=sys.stderr)
    if proc.returncode != 0 or res is None:
        # the exception messages first: a deep stack trace pushes them out
        # of the log's tail
        causes = [l for l in log_lines if not l.startswith(("\t", " "))
                  and ("Exception" in l or "Error" in l or l.startswith("Caused by"))]
        print("\n".join(causes[:20] + ["..."] + log_lines[-60:]), file=sys.stderr)
        fail(f"benchmark JVM exited with code {proc.returncode}")
    for l in out.splitlines():
        if l.startswith("{"):
            print(l)
    values = res.pop("values")
    res["metrics"] = metrics(spec, "per_layer" if a.trace else "end_to_end", values)
    print(json.dumps(res))


if __name__ == "__main__":
    main()
