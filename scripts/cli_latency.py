#!/usr/bin/env python3
"""Fresh-JVM latency of the EP1 command line against the reference's budgets.

    python3 scripts/cli_latency.py [--n 5] [--root CHECKOUT] \\
        [--out PIPELINE_LATENCY.json]

Runs `--n` pairs of `graft.Main run` and `graft.Main publish --dry-run` over
the fixture sources (`src/test/resources/fixtures/sources`), each command a
fresh JVM started through the checkout's `scripts/run_main.sh` (so the
checkout must be compiled: `sbt compile`), each with a 2 GB driver heap.
The pairs share one fresh temporary work directory, deleted at the end, as
daily cron runs share their state: the first `run` starts without state,
the later ones read the state the previous one wrote.

Writes one JSON with every wall time, the medians and the max per command,
N, and the budgets the reference sets (BASELINE.md: `run` p95 <= 15 s,
`publish --dry-run` p95 <= 2 s). With a handful of samples the max stands
in for the p95. A command that exits non-zero, or a `run` that prints no
`decision=` line, stops the measurement: the JSON is still written, with
the failure, and the script exits 1.
"""
import argparse
import json
import os
import shutil
import statistics
import subprocess
import sys
import tempfile
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
BUDGETS_S = {"run": 15.0, "publish_dry_run": 2.0}
XMX = "2g"


def commit(root):
    """HEAD of the checkout and whether its tracked files differ from it;
    (None, None) outside a git checkout."""
    r = subprocess.run(["git", "rev-parse", "HEAD"], cwd=root, capture_output=True, text=True)
    if r.returncode != 0:
        return None, None
    d = subprocess.run(["git", "status", "--porcelain", "--untracked-files=no"], cwd=root,
                       capture_output=True, text=True)
    return r.stdout.strip(), bool(d.stdout.strip())


def timed(root, args):
    """Wall seconds, exit code, stdout and stderr of one fresh-JVM graft.Main call."""
    cmd = [os.path.join(root, "scripts", "run_main.sh"), f"-Xmx{XMX}", "graft.Main"] + args
    t0 = time.monotonic()
    r = subprocess.run(cmd, cwd=root, stdout=subprocess.PIPE, stderr=subprocess.PIPE, text=True)
    return time.monotonic() - t0, r.returncode, r.stdout, r.stderr


def measure(root, fixtures, work, n):
    """Runs the n pairs in `work`; the wall times per command, the `decision=`
    lines of the runs, and the first failure (None when every call succeeded)."""
    times = {"run": [], "publish_dry_run": []}
    decisions, failure = [], None
    steps = [("run", ["run", "--work-dir", work, "--fixture-dir", fixtures]),
             ("publish_dry_run", ["publish", "--work-dir", work, "--dry-run"])]
    for i in range(n):
        for name, args in steps:
            secs, code, out, err = timed(root, args)
            print(f"pair {i + 1}/{n} {name}: {secs:.2f} s (exit {code})", flush=True)
            if code != 0:
                failure = {"pair": i + 1, "command": name, "exit": code, "stderr_tail": err[-2000:]}
            elif name == "run":
                line = next((l for l in out.splitlines() if l.startswith("decision=")), None)
                if line is None:
                    failure = {"pair": i + 1, "command": name, "exit": code,
                               "stderr_tail": "no decision= line in stdout"}
                else:
                    decisions.append(line)
            if failure:
                break
            times[name].append(round(secs, 3))
        if failure:
            break
    return times, decisions, failure


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--n", type=int, default=5, help="run + publish --dry-run pairs")
    ap.add_argument("--root", default=ROOT, help="the compiled checkout to measure")
    ap.add_argument("--out", default="PIPELINE_LATENCY.json")
    a = ap.parse_args()
    if a.n < 1:
        sys.exit("cli_latency: --n must be >= 1")
    root = os.path.abspath(a.root)
    fixtures = os.path.join(root, "src", "test", "resources", "fixtures", "sources")
    if not os.path.isdir(fixtures):
        sys.exit(f"cli_latency: no fixture sources under {root}")
    load1 = os.getloadavg()[0]
    sha, dirty = commit(root)
    work = tempfile.mkdtemp(prefix="cli_latency_")
    try:
        times, decisions, failure = measure(root, fixtures, work, a.n)
    finally:
        shutil.rmtree(work, ignore_errors=True)

    result = {
        "command": "python3 scripts/cli_latency.py " + " ".join(sys.argv[1:]),
        "commit": sha,
        "uncommitted_changes": dirty,
        "n": a.n,
        "host": {"nproc": os.cpu_count(), "load1_at_start": load1},
        "budgets_s": {"run_p95": BUDGETS_S["run"], "publish_dry_run_p95": BUDGETS_S["publish_dry_run"]},
        "run_s": times["run"],
        "publish_dry_run_s": times["publish_dry_run"],
        "median_s": {k: round(statistics.median(v), 3) if v else None for k, v in times.items()},
        "max_s": {k: max(v) if v else None for k, v in times.items()},
        "within_budget": {k: bool(v) and max(v) <= BUDGETS_S[k] for k, v in times.items()},
        "decisions": decisions,
        "failed": failure,
    }
    with open(a.out, "w") as f:
        json.dump(result, f, indent=2)
        f.write("\n")
    print(json.dumps({k: result[k] for k in ("n", "median_s", "max_s", "within_budget")}))
    sys.exit(1 if failure else 0)


if __name__ == "__main__":
    main()
