"""Measures a baseline: runs every workload on N seeds (untraced) and
reports, per end-to-end metric, the median, the quartiles and the spread
(interquartile distance over the median) next to the metric's bound.

    python3 perfbench/baseline.py --runs 10 --first-seed 1 --label set-a [--workload W] [--out FILE]
    python3 perfbench/baseline.py --combine A.json B.json --out FILE

Run from the repository root. Each run's raw result line is kept in the
output JSON so a later comparison can recompute anything. `--combine`
puts two sets side by side with the drift of the second set's median
from the first's.
"""
import argparse
import json
import statistics
import subprocess
import sys
import time


def combine(paths, out):
    sets = [json.load(open(p)) for p in paths]
    result = {"sets": [], "workloads": {}}
    for s in sets:
        result["sets"].append({"label": s["label"], "run_seconds": s["run_seconds"],
                               "seeds": sorted({r["seed"] for w in s["workloads"].values() for r in w["runs"]})})
    for name in sets[0]["workloads"]:
        ws = [s["workloads"][name] for s in sets]
        metrics = {}
        for m, first in ws[0]["metrics"].items():
            row = {"bound": first["bound"]}
            for i, w in enumerate(ws):
                v = w["metrics"][m]
                row[f"set{i + 1}"] = {k: round(v[k], 4) for k in ("median", "q1", "q3", "spread")}
            row["drift"] = round(ws[-1]["metrics"][m]["median"] / first["median"] - 1, 4)
            metrics[m] = row
        result["workloads"][name] = {
            "all_correct": all(w["all_correct"] for w in ws),
            "failed": sum(w["failed"] for w in ws),
            "metrics": metrics,
            "runs": [{"set": i + 1, "seed": r["seed"], "elapsed_s": r["elapsed_s"],
                      **{k: round(v["value"], 4) for k, v in r["result"]["metrics"].items()}}
                     for i, w in enumerate(ws) for r in w["runs"] if r["result"]]}
    with open(out, "w") as f:
        f.write(json.dumps(result, indent=1) + "\n")


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--runs", type=int, default=10)
    ap.add_argument("--first-seed", type=int, default=1)
    ap.add_argument("--label", default="baseline")
    ap.add_argument("--out")
    ap.add_argument("--workload", action="append", help="only these workloads (repeatable)")
    ap.add_argument("--combine", nargs=2, metavar="SET")
    a = ap.parse_args()
    if a.combine:
        combine(a.combine, a.out)
        return
    with open("BENCHMARK.json") as f:
        spec = json.load(f)
    result = {"label": a.label, "run_seconds": spec["run_seconds"], "workloads": {}}
    for w in spec["workloads"]:
        if a.workload and w["name"] not in a.workload:
            continue
        runs = []
        for i in range(a.runs):
            seed = a.first_seed + i
            t = time.time()
            p = subprocess.run([sys.executable, "perfbench/run.py", "--workload", w["name"],
                                "--seed", str(seed), "--seconds", str(spec["run_seconds"]),
                                "--trace", "0"], stdout=subprocess.PIPE, stderr=subprocess.DEVNULL,
                               text=True)
            line = json.loads(p.stdout.strip().splitlines()[-1]) if p.returncode == 0 else None
            runs.append({"seed": seed, "rc": p.returncode, "elapsed_s": round(time.time() - t, 1),
                         "result": line})
            print(f"{w['name']} seed {seed}: rc={p.returncode} {time.time() - t:.0f}s", file=sys.stderr)
        ok = [r["result"] for r in runs if r["result"]]
        summary = {}
        for m in spec["end_to_end"]:
            vals = [r["metrics"][m["name"]]["value"] for r in ok]
            if len(vals) < 4:
                continue
            q1, med, q3 = statistics.quantiles(vals, n=4)
            summary[m["name"]] = {"median": med, "q1": q1, "q3": q3,
                                  "spread": (q3 - q1) / med, "bound": m["bound"]}
        result["workloads"][w["name"]] = {
            "all_correct": all(r["correct"] for r in ok) and len(ok) == len(runs),
            "failed": sum(r["failed"] for r in ok), "metrics": summary, "runs": runs}
    text = json.dumps(result, indent=1)
    if a.out:
        with open(a.out, "w") as f:
            f.write(text + "\n")
    for name, w in result["workloads"].items():
        print(f"{name}: all_correct={w['all_correct']} failed={w['failed']}")
        for k, v in w["metrics"].items():
            print(f"  {k:16s} median {v['median']:10.2f}  spread {v['spread']:.3f}  bound {v['bound']}")


if __name__ == "__main__":
    main()
