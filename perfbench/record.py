"""Records one untraced, one traced and one full-JIT (run.py --jit c2) run of
each workload at the first tuning seed of design.json, into
perfbench/results/<workload>.json: the end-to-end metrics, the per-layer
metrics, the tracing overhead (traced / untraced - 1 of each end-to-end
metric a traced run repeats), the self time of every span name, and
c2 / c1 - 1 of every end-to-end metric.

    python3 perfbench/record.py
"""
import json
import os
import sys

sys.dont_write_bytecode = True
from spread import HERE, ROOT, run, tuning_seeds  # noqa: E402


def main():
    seed = tuning_seeds()[0]
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    os.makedirs(os.path.join(HERE, "results"), exist_ok=True)
    for w in spec["workloads"]:
        name = w["name"]
        digest, plain = run(name, seed, spec["run_seconds"], 0)
        traced_digest, traced = run(name, seed, spec["run_seconds"], 1)
        _, c2 = run(name, seed, spec["run_seconds"], 0, "c2")
        with open(os.path.join(ROOT, ".bench_build", "traces", f"{name}-seed{seed}.json")) as f:
            spans = json.load(f)
        overhead = {}
        for m in spec["end_to_end"]:
            t = traced["metrics"].get("trace." + m["name"])
            if t:
                overhead[m["name"]] = t["value"] / plain["metrics"][m["name"]]["value"] - 1
        rec = {"workload": name, "seed": seed, "inputs": [digest, traced_digest],
               "untraced": plain, "traced": traced, "tracing_overhead": overhead,
               "self_time_by_name": spans["self_time_by_name"], "c2": c2,
               "c2_vs_c1": {m: c2["metrics"][m]["value"] / v["value"] - 1
                            for m, v in plain["metrics"].items()}}
        with open(os.path.join(HERE, "results", f"{name}.json"), "w") as f:
            json.dump(rec, f, indent=1)
            f.write("\n")
        print(name, "overhead", {k: round(v, 3) for k, v in overhead.items()},
              "c2_vs_c1", {k: round(v, 3) for k, v in rec["c2_vs_c1"].items()}, flush=True)


if __name__ == "__main__":
    main()
