"""Runs one workload of the vector-DB benchmark (workloads and metrics:
BENCHMARK.json at the repository root).

    python3 perfbench/run.py --workload ann_serve --seed 1 --seconds 10 --trace 0

Builds the engine and the benchmark from source on first use (build.py),
runs the workload in one JVM with a local[4] Spark session, and prints as
its last stdout line one JSON object with the keys correct, attempted,
failed and metrics. --trace 0 reports the end-to-end metrics; --trace 1
runs traced and reports the per-layer metrics, writing the spans to
.bench_build/traces/. --size tiny shrinks every input (self-test).
--jit c2 runs with the JVM's full tiered compiler and a longer warm-up,
to set against the default C1-only figures (record.py).
The line before the result names the workload, the seed and a SHA-256
of the generated inputs.
"""
import argparse
import json
import os
import shutil
import subprocess
import sys

sys.dont_write_bytecode = True
import build  # noqa: E402

TIMEOUT_S = 170
# A run's JVM lives under a minute. With full tiered compilation, C2 is
# still compiling Spark's driver code long after the set-ups: on a 4-core
# host, ann_serve's latency fell from about 320 to 165 ms over its first
# 25 s of queries, and ann_batch's from 310 to 240 ms over 16 s. Warming
# each run that long would put the driver's runs past their time budget,
# so runs use C1 alone, compiling early, which is flat after a short
# warm-up (it needs a larger code cache than its 48 MB default). C1 code
# is slower than C2's; record.py measures each workload once under C2,
# warmed for C2_WARM_S, and records the difference.
C1_OPTS = ["-XX:TieredStopAtLevel=1", "-XX:CompileThresholdScaling=0.05"]
C2_WARM_S = 30
JAVA_OPTS = [
    "-Xmx3g", "-XX:-UsePerfData",
    "-XX:ReservedCodeCacheSize=512m",
    "-Dspark.ui.enabled=false", "-Dspark.driver.host=localhost",
    "-Dspark.driver.bindAddress=127.0.0.1",
    "-Dlog4j.configurationFile=" + os.path.join(build.BENCH, "log4j2.properties"),
] + [opt for pkg in (
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
) for opt in ("--add-opens", pkg + "=ALL-UNNAMED")]


def spec():
    path = os.path.join(build.ROOT, "BENCHMARK.json")
    with open(path) as f:
        return json.load(f)


def select(result, declared, traced):
    """The result line the contract asks for: exactly the declared metrics.
    An end-to-end metric the run did not measure is an error; a per-layer
    metric a workload has no work for reads 0."""
    got = result["metrics"]
    names = {m["name"] for m in declared}
    extra = set(got) - names
    if extra:
        sys.exit(f"perfbench: undeclared metrics {sorted(extra)}")
    metrics = {}
    for m in declared:
        v = got.get(m["name"])
        if v is None and not traced:
            sys.exit(f"perfbench: end-to-end metric {m['name']} missing")
        if v is not None and v["unit"] != m["unit"]:
            sys.exit(f"perfbench: {m['name']} unit {v['unit']} != {m['unit']}")
        metrics[m["name"]] = {"value": v["value"] if v else 0.0, "unit": m["unit"]}
    return {"correct": result["correct"], "attempted": result["attempted"],
            "failed": result["failed"], "metrics": metrics}


def main():
    s = spec()
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=[w["name"] for w in s["workloads"]])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", choices=["0", "1"], default="0")
    ap.add_argument("--size", choices=["full", "tiny"], default="full")
    ap.add_argument("--jit", choices=["c1", "c2"], default="c1")
    a = ap.parse_args()
    classes = build.build()

    work = os.path.join(build.BUILD, "work", f"{a.workload}-{a.seed}-{os.getpid()}")
    traces = os.path.join(build.BUILD, "traces")
    os.makedirs(os.path.join(work, "tmp"))
    os.makedirs(traces, exist_ok=True)
    jit = C1_OPTS if a.jit == "c1" else []
    warm = 0 if a.jit == "c1" else C2_WARM_S
    cmd = [build.java()] + JAVA_OPTS + jit + [
        "-Djava.io.tmpdir=" + os.path.join(work, "tmp"),
        "-cp", os.pathsep.join([classes] + build.spark_jars()), "perfbench.Main",
        "--workload", a.workload, "--seed", str(a.seed), "--seconds", str(a.seconds),
        "--trace", a.trace, "--size", a.size, "--work", work, "--warm-seconds", str(warm),
        "--trace-out", os.path.join(traces, f"{a.workload}-seed{a.seed}.json")]
    proc = subprocess.Popen(cmd, stdout=subprocess.PIPE, text=True)
    try:
        out, _ = proc.communicate(timeout=TIMEOUT_S)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait()
        sys.exit(f"perfbench: run exceeded {TIMEOUT_S} s")
    finally:
        shutil.rmtree(work, ignore_errors=True)
    if proc.returncode != 0:
        sys.exit(f"perfbench: the JVM exited with {proc.returncode}")
    lines = out.strip().splitlines()
    for line in lines[:-1]:
        print(line)
    traced = a.trace == "1"
    declared = s["per_layer"] if traced else s["end_to_end"]
    print(json.dumps(select(json.loads(lines[-1]), declared, traced), separators=(",", ":")),
          flush=True)


if __name__ == "__main__":
    main()
