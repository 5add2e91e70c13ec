"""Run the benchmark on several seeds and report, per end-to-end metric, the
median and the spread (distance between the first and third quartiles of
`statistics.quantiles(values, n=4)`, as a share of the median) next to the
metric's bound.

Usage (from the repository root):
  python3 perfbench/spread.py --workload sri_etl --seeds 1 2 3 4 5 [--out file.json]
"""

import argparse
import json
import os
import statistics
import subprocess
import sys


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seeds", type=int, nargs="+", required=True)
    ap.add_argument("--out")
    a = ap.parse_args()
    with open("BENCHMARK.json", encoding="utf-8") as f:
        spec = json.load(f)
    runs = []
    for seed in a.seeds:
        r = subprocess.run([sys.executable, os.path.join("perfbench", "run.py"), "--workload", a.workload,
                            "--seed", str(seed), "--seconds", str(spec["run_seconds"]),
                            "--trace", "0"],
                           stdout=subprocess.PIPE, stderr=subprocess.DEVNULL, text=True)
        if r.returncode != 0:
            sys.exit(f"seed {seed}: exit {r.returncode}")
        res = json.loads(r.stdout.strip().splitlines()[-1])
        runs.append(res)
        print(f"seed {seed}: correct={res['correct']} " + " ".join(
            f"{k}={v['value']:.4g}" for k, v in res["metrics"].items()), file=sys.stderr)
    report = {"workload": a.workload, "seeds": a.seeds,
              "all_correct": all(r["correct"] and r["failed"] == 0 for r in runs), "metrics": {}}
    for m in spec["end_to_end"]:
        vals = [r["metrics"][m["name"]]["value"] for r in runs]
        med = statistics.median(vals)
        q = statistics.quantiles(vals, n=4) if len(vals) > 1 else [med, med, med]
        report["metrics"][m["name"]] = {
            "median": med, "q1": q[0], "q3": q[2], "unit": m["unit"],
            "spread": (q[2] - q[0]) / med if med else 0.0, "bound": m.get("bound"), "values": vals}
    for name, v in report["metrics"].items():
        bound = "" if v["bound"] is None else f"  bound {v['bound']}"
        print(f"{name:40s} median {v['median']:.4g} {v['unit']}  spread {v['spread']:.3f}{bound}")
    if a.out:
        with open(a.out, "w", encoding="utf-8") as f:
            json.dump(report, f, indent=1)


if __name__ == "__main__":
    main()
