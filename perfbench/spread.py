"""Run-to-run spread of the end-to-end metrics.

    python3 perfbench/spread.py --workload corpus_sf01,pipeline_fixture --seeds 1-10 [--seconds 10]

Runs the benchmark once per seed and workload, the workloads interleaved
(seed 1 of each, then seed 2 of each, ...) so that a slow stretch of the
host lands on all of them alike, and prints, per workload and metric, the
median and the interquartile range as a share of the median (the
steadiness figure BENCHMARK.json's bounds are written against), as one
JSON line per workload. Results of every run are appended to
`<build dir>/spread/<workload>.jsonl`.
"""
import argparse
import json
import os
import statistics
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)
import build  # noqa: E402


def spread(values):
    q1, _, q3 = statistics.quantiles(values, n=4)
    return statistics.median(values), (q3 - q1) / statistics.median(values)


def one(workload, seed, seconds, out):
    r = subprocess.run([sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
                        "--seed", str(seed), "--seconds", seconds, "--trace", "0"],
                       capture_output=True, text=True, cwd=build.ROOT)
    last = (r.stdout.strip().splitlines() or ["{}"])[-1]
    res = json.loads(last) if r.returncode == 0 else {"error": r.stderr[-500:]}
    res["seed"] = seed
    rec = os.path.join(build.build_dir(), "last", f"{workload}.json")
    if r.returncode == 0 and os.path.exists(rec):
        res["ops"] = json.load(open(rec))["ops"]
    ctx = [x for x in r.stdout.splitlines() if x.startswith(f"{workload} context = ")]
    if ctx:
        res["context"] = json.loads(ctx[0].split(" = ", 1)[1])
    with open(os.path.join(out, f"{workload}.jsonl"), "a") as f:
        f.write(json.dumps(res) + "\n")
    return res


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, help="one workload or a comma-separated list")
    ap.add_argument("--seeds", default="1-5")
    ap.add_argument("--seconds", default="10")
    a = ap.parse_args()
    lo, _, hi = a.seeds.partition("-")
    seeds = range(int(lo), int(hi or lo) + 1)
    workloads = a.workload.split(",")
    out = os.path.join(build.build_dir(), "spread")
    os.makedirs(out, exist_ok=True)
    runs = {w: [] for w in workloads}
    for s in seeds:
        for w in workloads:
            runs[w].append(one(w, s, a.seconds, out))
    for w in workloads:
        ok = [r for r in runs[w] if "metrics" in r]
        summary = {"workload": w, "runs": len(runs[w]), "ok": len(ok),
                   "correct": all(r["correct"] for r in ok)}
        if len(ok) >= 2:
            for k in ok[0]["metrics"]:
                med, iqr = spread([r["metrics"][k]["value"] for r in ok])
                summary[k] = {"median": round(med, 6), "iqr_share": round(iqr, 4)}
        print(json.dumps(summary), flush=True)


if __name__ == "__main__":
    main()
