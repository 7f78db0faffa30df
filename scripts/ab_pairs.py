#!/usr/bin/env python3
"""Paired A/B of two commits on the benchmark, with an optional A/A control.

    python3 scripts/ab_pairs.py --base HEAD~1 --head HEAD \\
        --workload pipeline_fixture --seeds 301-310 [--seconds 10] [--aa] \\
        [--scratch DIR] [--out ab.json]

Exports `--base` and `--head` (any commit-ish) into their own directories
under `--scratch` with `git archive` (a plain copy: an interrupted run
leaves nothing registered in the repository; a directory that held
another commit is emptied first), then runs
`perfbench/run.py --workload W --seed S --seconds T --trace 0` in each, one
pair per seed, alternating which side runs first. `--aa` adds a third leg,
a second export of the base commit, run in the same pair: its deltas
against the base leg show how far identical code moves between runs. With
`--aa` the pairs cycle through the six orders of the three legs (`ORDERS`),
so run position cancels out of every comparison: each leg takes each
position once in every three pairs, and precedes each other leg equally
often in every six. Seed counts that are a multiple of six balance exactly.

Prints, per end-to-end metric of BENCHMARK.json, each leg's median and
quartiles, the median paired delta (head vs base, in %) and the pairs the
head won, and the same for the A/A leg; failed operations are summed per
leg. Everything, every run included, goes to one JSON file. The script
only calls `perfbench/`; it changes nothing in it.
"""
import argparse
import json
import os
import shutil
import statistics
import subprocess
import sys
import tarfile
import tempfile
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

# The --aa run orders: the three rotations of base/head/aa, then the three
# of its reverse — a Latin square per half, every permutation per cycle.
ORDERS = [["base", "head", "aa"], ["head", "aa", "base"], ["aa", "base", "head"],
          ["aa", "head", "base"], ["head", "base", "aa"], ["base", "aa", "head"]]


def export(ref, dest):
    """A copy of `ref`'s tree in `dest`, and nothing else; reused when it is
    already there. An earlier export of another commit (or an interrupted
    one) is deleted first, so no file of it and no build of it is left."""
    sha = subprocess.run(["git", "rev-parse", "--verify", f"{ref}^{{commit}}"], cwd=ROOT,
                         check=True, capture_output=True, text=True).stdout.strip()
    stamp = os.path.join(dest, ".ab_commit")
    if os.path.exists(stamp):
        if open(stamp).read() == sha:
            return sha
        shutil.rmtree(dest)
    elif os.path.isdir(dest) and os.listdir(dest):
        sys.exit(f"ab_pairs: {dest} is not empty and holds no export; remove it or pick "
                 f"another --scratch")
    os.makedirs(dest, exist_ok=True)
    with open(stamp, "w") as f:  # marks the directory as an export before it fills
        f.write("")
    with tempfile.TemporaryFile() as tar:
        subprocess.run(["git", "archive", "--format=tar", sha], cwd=ROOT, check=True, stdout=tar)
        tar.seek(0)
        with tarfile.open(fileobj=tar) as t:
            t.extractall(dest)
    with open(stamp, "w") as f:
        f.write(sha)
    return sha


def run_once(checkout, workload, seed, seconds):
    """One benchmark run: its metric values, failed count and wall time."""
    t0 = time.time()
    r = subprocess.run([sys.executable, "perfbench/run.py", "--workload", workload,
                        "--seed", str(seed), "--seconds", str(seconds), "--trace", "0"],
                       cwd=checkout, capture_output=True, text=True)
    lines = r.stdout.strip().splitlines()
    if r.returncode != 0 or not lines:
        return {"seed": seed, "error": (r.stderr or r.stdout)[-800:], "wall_s": time.time() - t0}
    res = json.loads(lines[-1])
    return {"seed": seed, "failed": res["failed"], "attempted": res["attempted"],
            "metrics": {k: v["value"] for k, v in res["metrics"].items()},
            "wall_s": round(time.time() - t0, 1)}


def quartiles(xs):
    if len(xs) < 2:
        return xs[0], xs[0], xs[0]
    q1, _, q3 = statistics.quantiles(xs, n=4)
    return q1, statistics.median(xs), q3


def fmt(q):
    return "/".join(f"{v:.4g}" for v in q)


def compare(pairs, leg, metrics):
    """Per metric: each side's quartiles, the median paired delta of `leg`
    against the base leg, and the pairs `leg` won."""
    out = {}
    ok = [p for p in pairs if "metrics" in p["base"] and "metrics" in p[leg]]
    for name, better in metrics:
        b = [p["base"]["metrics"][name] for p in ok]
        x = [p[leg]["metrics"][name] for p in ok]
        if not b:
            continue
        deltas = [(xi - bi) / bi * 100 if bi else 0.0 for bi, xi in zip(b, x)]
        wins = sum(1 for bi, xi in zip(b, x) if (xi < bi if better == "lower" else xi > bi))
        bq, xq = quartiles(b), quartiles(x)
        out[name] = {"base": bq, leg: xq, "base_iqr": bq[2] - bq[0],
                     "median_delta_pct": statistics.median(deltas),
                     "wins": wins, "pairs": len(ok)}
    return out


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--base", required=True)
    ap.add_argument("--head", required=True)
    ap.add_argument("--workload", default="pipeline_fixture")
    ap.add_argument("--seeds", required=True, help="a range such as 301-310")
    ap.add_argument("--seconds", default="10")
    ap.add_argument("--aa", action="store_true", help="add a base-code control leg")
    ap.add_argument("--scratch", default=os.path.join(tempfile.gettempdir(), "ab_pairs"))
    ap.add_argument("--out", default="ab_pairs.json")
    a = ap.parse_args()

    lo, _, hi = a.seeds.partition("-")
    seeds = list(range(int(lo), int(hi or lo) + 1))
    bench = json.load(open(os.path.join(ROOT, "BENCHMARK.json")))
    metrics = [(m["name"], m["better"]) for m in bench["end_to_end"]]
    legs = {"base": a.base, "head": a.head}
    if a.aa:
        legs["aa"] = a.base
    dirs = {leg: os.path.join(a.scratch, leg) for leg in legs}
    shas = {leg: export(ref, dirs[leg]) for leg, ref in legs.items()}

    pairs = []
    for i, seed in enumerate(seeds):
        if a.aa:
            order = ORDERS[i % len(ORDERS)]
        else:
            order = ["base", "head"] if i % 2 == 0 else ["head", "base"]
        pair = {"seed": seed, "order": order}
        for leg in order:
            pair[leg] = run_once(dirs[leg], a.workload, seed, a.seconds)
            m = pair[leg].get("metrics", {})
            print(f"seed {seed} {leg:4s} " + (" ".join(f"{k}={m[k]:.4g}" for k, _ in metrics
                                                      if k in m) or pair[leg].get("error", "")),
                  flush=True)
        pairs.append(pair)

    result = {"workload": a.workload, "seconds": a.seconds, "seeds": seeds,
              "commits": shas, "pairs": pairs,
              "failed": {leg: sum(p[leg].get("failed", 0) for p in pairs) for leg in legs},
              "errors": {leg: sum(1 for p in pairs if "error" in p[leg]) for leg in legs},
              "head_vs_base": compare(pairs, "head", metrics)}
    if a.aa:
        result["aa_vs_base"] = compare(pairs, "aa", metrics)
    with open(a.out, "w") as f:
        json.dump(result, f, indent=1)

    print(f"\n{a.workload}: {len(pairs)} pairs, failed {result['failed']}, "
          f"runs without a result {result['errors']}")
    for leg in [x for x in ("head", "aa") if f"{x}_vs_base" in result]:
        print(f"{leg} vs base: metric | base q1/med/q3 | {leg} q1/med/q3 | median delta | wins")
        for name, r in result[f"{leg}_vs_base"].items():
            print(f"  {name} | {fmt(r['base'])} | {fmt(r[leg])} | "
                  f"{r['median_delta_pct']:+.1f}% | {r['wins']}/{r['pairs']}")
    print(f"written to {a.out}")
    return 0 if not any(result["errors"].values()) else 1


if __name__ == "__main__":
    sys.exit(main())
