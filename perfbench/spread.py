"""Run-to-run spread of the end-to-end metrics.

Runs one workload once per tuning seed of design.json, for BENCHMARK.json's
run_seconds, and reports for every end-to-end metric the median of the
runs and the distance between the first and third quartile
(statistics.quantiles, n=4) as a share of the median, next to the metric's
bound.

    python3 perfbench/spread.py --workload ann_serve [--out f.json]
"""
import argparse
import json
import os
import statistics
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def tuning_seeds():
    with open(os.path.join(HERE, "design.json")) as f:
        return json.load(f)["seeds"]["tuning"]


def run(workload, seed, seconds, trace=0, jit="c1"):
    """One run.py run: (its inputs digest line, its result)."""
    out = subprocess.run(
        [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
         "--seed", str(seed), "--seconds", str(seconds), "--trace", str(trace), "--jit", jit],
        cwd=ROOT, stdout=subprocess.PIPE, stderr=subprocess.DEVNULL, text=True, check=True)
    lines = out.stdout.strip().splitlines()
    return lines[-2], json.loads(lines[-1])


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--out")
    a = ap.parse_args()
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    seconds = spec["run_seconds"]
    runs = []
    for s in tuning_seeds():
        digest, res = run(a.workload, s, seconds)
        runs.append({"seed": s, "inputs": digest, **res})
        vals = " ".join(f"{k}={v['value']:.4g}" for k, v in res["metrics"].items())
        print(f"seed {s}: correct={res['correct']} failed={res['failed']} {vals}", flush=True)
    summary = {}
    for m in spec["end_to_end"]:
        vals = [r["metrics"][m["name"]]["value"] for r in runs]
        med = statistics.median(vals)
        q1, _, q3 = statistics.quantiles(vals, n=4)
        spread = (q3 - q1) / med
        summary[m["name"]] = {"median": med, "iqr_share": spread, "bound": m["bound"]}
        flag = "" if spread < m["bound"] / 3 else ("  > bound/3" if spread <= m["bound"] else "  > BOUND")
        print(f"{m['name']:22s} median {med:12.5g}  iqr/median {spread:7.4f}  bound {m['bound']}{flag}")
    if a.out:
        with open(a.out, "w") as f:
            json.dump({"workload": a.workload, "seconds": seconds, "summary": summary,
                       "runs": runs}, f, indent=1)
            f.write("\n")


if __name__ == "__main__":
    main()
