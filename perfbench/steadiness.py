#!/usr/bin/env python3
"""Steadiness evidence for the benchmark.

    python3 perfbench/steadiness.py

Runs the benchmark ten times on every workload of BENCHMARK.json, with seeds
101 to 110, untraced, at BENCHMARK.json's run_seconds. For every end-to-end
metric it reports the median and the spread: the distance between the first
and third quartile (statistics.quantiles(n=4)) as a share of the median. The
bound BENCHMARK.json should carry is at least three times that spread and at
most 0.25. Writes perfbench/STEADINESS.json; when that file already holds a
set, the new one records how far each median moved from it.
"""
import json
import os
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
OUT = os.path.join(HERE, "STEADINESS.json")
RUNS = 10
FIRST_SEED = 101


def main():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    earlier = None
    if os.path.isfile(OUT):
        with open(OUT) as fh:
            earlier = {w: r["metrics"] for w, r in json.load(fh)["workloads"].items()}

    report = {"run_seconds": spec["run_seconds"], "cpus": os.cpu_count(), "workloads": {}}
    for w in (x["name"] for x in spec["workloads"]):
        runs = []
        for i in range(RUNS):
            seed = FIRST_SEED + i
            t0 = time.time()
            p = subprocess.run([sys.executable, os.path.join(HERE, "run.py"), "--workload", w,
                                "--seed", str(seed), "--seconds", str(spec["run_seconds"]),
                                "--trace", "0"], cwd=ROOT, capture_output=True, text=True)
            wall = time.time() - t0
            if p.returncode != 0:
                runs.append({"seed": seed, "wall_s": wall, "error": p.stderr[-1000:]})
                continue
            lines = p.stdout.strip().splitlines()
            result = json.loads(lines[-1])
            detail = json.loads(lines[-2])["detail"]
            runs.append({"seed": seed, "wall_s": round(wall, 1), "correct": result["correct"],
                         "attempted": result["attempted"], "failed": result["failed"],
                         "op_tail_units": detail["op_tail_units"],
                         "op_samples": detail["op_samples"],
                         "recall_min": detail["recall_min"],
                         "metrics": {k: v["value"] for k, v in result["metrics"].items()}})
            print(f"{w} seed {seed}: {wall:.0f} s", file=sys.stderr)
        ok = [r for r in runs if "metrics" in r]
        summary = {}
        for m in spec["end_to_end"]:
            vals = [r["metrics"][m["name"]] for r in ok]
            if len(vals) < 2:
                continue
            q = statistics.quantiles(vals, n=4)
            med = statistics.median(vals)
            summary[m["name"]] = {"median": med, "q1": q[0], "q3": q[2],
                                  "spread": (q[2] - q[0]) / med if med else None,
                                  "bound": m["bound"]}
            before = (earlier or {}).get(w, {}).get(m["name"], {}).get("median")
            if before:
                summary[m["name"]]["drift_vs_earlier_set"] = med / before - 1.0
        report["workloads"][w] = {"runs": runs, "metrics": summary,
                                  "wall_s_median": statistics.median(r["wall_s"] for r in runs)}
        if earlier:
            report["earlier_set"] = earlier
        with open(OUT, "w") as fh:
            json.dump(report, fh, indent=1)
    for w, r in report["workloads"].items():
        print(w, "median wall %.1f s" % r["wall_s_median"])
        for k, v in r["metrics"].items():
            print("  %-16s median %12.4f  spread %.4f  bound %.2f  drift %s" % (
                k, v["median"], v["spread"], v["bound"], v.get("drift_vs_earlier_set")))


if __name__ == "__main__":
    main()
