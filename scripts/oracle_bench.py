#!/usr/bin/env python3
"""Time every oracle SQL in DuckDB and write a per-query seconds file.

Usage: oracle_bench.py <sf_dir> <oracle_sql.json> <out_json> [--one NAME]

`graft.Bench` loads the committed output (scripts/oracle_times_<sf>.json)
and stamps per-query Spark/DuckDB ratios into its JSON line, so a
q51-class perf regression is visible in the bench artifact itself without
a judge re-run. Regenerate whenever oracle SQL changes:

  SPARK_GRAFT_CPUS=8 sbt -batch "runMain graft.Verify /root/testdata/sf0.01 /tmp/verify_out"
  python3 scripts/oracle_bench.py /root/testdata/sf0.1 \
      /tmp/verify_out/oracle_sql.json scripts/oracle_times_sf0.1.json

(The oracle SQL dump is scale-independent; the timing SF dir is what
matters and must match what Bench runs at.)

Process model: every query runs in its OWN subprocess (`--one NAME`).
This is not optional hygiene — at sf10 a single OOM-ing query poisons
DuckDB's process-global allocator so thoroughly that even a fresh
`duckdb.connect()` in the same process fails on a 2 KB allocation;
every query after the first failure then "fails" spuriously. A child
process takes the damage alone, the parent records the error in
`_meta.errors`, and the remaining queries time in clean processes.
Timing starts inside the child around `execute()` only, so interpreter
and view-setup overhead never contaminates the numbers.
"""
import json, os, subprocess, sys, time
from pathlib import Path

import duckdb

sf_dir, sql_path, out_path = sys.argv[1], sys.argv[2], sys.argv[3]


def steal_jiffies():
    """Cumulative hypervisor-steal jiffies summed over all cpus, or None.

    The r18 denominator was recorded mid-steal-storm: the loadavg gate
    below is blind to steal (stolen cycles never queue runnable tasks in
    the guest), so a steady 15% inflation sailed through both gates and
    every downstream vs_oracle ratio divided by it (VERDICT r18 item 1).
    /proc/stat field 8 of the aggregate `cpu` line is the steal counter;
    sampled before/after each child run it converts the storm from an
    inference into a recorded per-query number with a hard refuse bar.
    """
    try:
        with open("/proc/stat") as f:
            parts = f.readline().split()
        if parts[0] != "cpu":
            return None
        return int(parts[8])  # user nice system idle iowait irq softirq STEAL
    except Exception:
        return None


def steal_pct(j0, j1, elapsed):
    """Steal as % of total cpu capacity over the interval (USER_HZ=100)."""
    cpus = os.cpu_count()
    if j0 is None or j1 is None or elapsed <= 0 or not cpus:
        return -1.0  # sentinel: unsampled, never a fake-clean 0.0
    return (j1 - j0) / (elapsed * cpus * 100.0) * 100.0

# min of N, same hygiene as graft.Bench; at sf100 a single run is the
# honest trade (min-of-2 doubles a multi-hour recording for warmup noise
# that is <1% of multi-second walls)
RUNS = int(os.environ.get("ORACLE_BENCH_RUNS", "2"))
# per-query wall cap, child killed past it (0 = unlimited). At sf100
# several oracles grind for tens of minutes before OOM/out-of-disk; a
# bounded recording marks them "timeout" in _meta.errors instead of
# stalling the whole file — "where DuckDB survives" includes surviving
# in bounded time.
TIMEOUT = float(os.environ.get("ORACLE_BENCH_TIMEOUT", "0")) or None
# names to skip outright (comma list): queries DuckDB already fails at a
# smaller SF (OOM / out-of-disk) just burn the timeout and can leave the
# spill volume full for their successors — record them as skipped.
SKIP = {n.strip() for n in os.environ.get("ORACLE_BENCH_SKIP", "").split(",")
        if n.strip()}
# same, but for queries that RUN at the smaller SF yet too slowly to fit
# the per-query cap at this one (wall × scale-up > TIMEOUT) — recorded
# with the honest reason so the artifact explains itself (the r15 sf100
# recording lumped both classes under one message; SCALE.md had to
# correct it after the fact).
SKIP_SLOW = {n.strip()
             for n in os.environ.get("ORACLE_BENCH_SKIP_SLOW", "").split(",")
             if n.strip()}


def connect():
    c = duckdb.connect()
    # cpu_count() is None when the host count is undeterminable
    c.execute(f"SET threads TO {os.cpu_count() or 4}")
    # DuckDB's own default (80% of RAM = 100 GB here) — set explicitly
    # for reproducibility, NOT lower: an 80 GB trial run forced
    # graph_pagerank at sf1 to spill (96.8 s → 293 s), unfairly
    # penalizing the baseline. The spill dir keeps heavy self-joins
    # degrading to disk where possible instead of aborting.
    c.execute(f"SET memory_limit='{os.environ.get('ORACLE_BENCH_MEM', '100GB')}'")
    spill = os.environ.get("ORACLE_BENCH_SPILL", "/tmp/duckdb_spill")
    os.makedirs(spill, exist_ok=True)
    c.execute(f"SET temp_directory='{spill}'")
    for t in ["region", "nation", "customer", "supplier", "part", "orders",
              "lineitem", "events", "documents", "embeddings"]:
        path = f"{sf_dir}/{t}.parquet"
        # driver testdata is one file per table; Spark-written (e.g.
        # tmp/sf1) is a directory of part files — glob in that case
        if Path(path).is_dir():
            path = f"{path}/*.parquet"
        c.execute(f"CREATE VIEW {t} AS SELECT * FROM '{path}'")
    return c


# ---- child mode: time ONE query, print min seconds, exit ----
if len(sys.argv) >= 6 and sys.argv[4] == "--one":
    name = sys.argv[5]
    sql = json.loads(Path(sql_path).read_text())[name]
    con = connect()
    runs = []
    for _ in range(RUNS):
        t0 = time.perf_counter()
        con.execute(sql).fetchall()
        runs.append(time.perf_counter() - t0)
    print(json.dumps({"sec": round(min(runs), 6)}))
    sys.exit(0)


def time_one(name):
    """Run one query in a subprocess; (seconds, None) or (None, error)."""
    try:
        r = subprocess.run(
            [sys.executable, __file__, sf_dir, sql_path, out_path, "--one", name],
            capture_output=True, text=True, timeout=TIMEOUT)
    except subprocess.TimeoutExpired:
        return None, f"timeout after {TIMEOUT:.0f}s"
    finally:
        # a killed/OOM'd child can leave multi-GB temp files behind;
        # the next query would then hit a pre-filled spill volume
        import shutil
        spill = os.environ.get("ORACLE_BENCH_SPILL", "/tmp/duckdb_spill")
        shutil.rmtree(spill, ignore_errors=True)
    if r.returncode == 0:
        try:
            return json.loads(r.stdout.strip().splitlines()[-1])["sec"], None
        except Exception:
            return None, f"unparseable child output: {r.stdout[-200:]}"
    err = (r.stderr.strip().splitlines() or ["killed"])[-1][:200]
    return None, err


# Quiet-host gate, same policy as graft.Bench: REFUSE to record times on
# a loaded host (a load-20 spike once inflated a committed times file by
# 35% and every downstream vs_oracle ratio with it). Wait bounded, then
# abort WITHOUT writing rather than record garbage.
MAX_LOAD = float(os.environ.get("ORACLE_BENCH_MAX_LOAD", "2.5"))
MAX_WAIT = int(os.environ.get("ORACLE_BENCH_LOAD_WAIT_SEC", "600"))
waited = 0
while os.getloadavg()[0] > MAX_LOAD and waited < MAX_WAIT:
    print(f"[oracle_bench] load {os.getloadavg()[0]:.2f} > {MAX_LOAD} — "
          f"waiting ({waited}/{MAX_WAIT}s)", file=sys.stderr)
    time.sleep(15)
    waited += 15
if os.getloadavg()[0] > MAX_LOAD:
    sys.exit(f"[oracle_bench] host still loaded after {MAX_WAIT}s — "
             "refusing to record a contaminated times file")

# Steal gate BEFORE recording (r18 verdict item 1): probe a 3 s window;
# if the hypervisor is stealing above the bar, wait bounded for the storm
# to pass, then abort WITHOUT writing. A times file recorded under steal
# is uniformly inflated and silently flatters every vs_oracle ratio.
MAX_STEAL = float(os.environ.get("ORACLE_BENCH_MAX_STEAL_PCT", "2.0"))


def steal_window(sec=3.0):
    j0 = steal_jiffies()
    time.sleep(sec)
    return steal_pct(j0, steal_jiffies(), sec)


steal_before = steal_window()
waited = 0
while steal_before >= 0 and steal_before > MAX_STEAL and waited < MAX_WAIT:
    print(f"[oracle_bench] steal {steal_before:.1f}% > {MAX_STEAL}% — "
          f"waiting ({waited}/{MAX_WAIT}s)", file=sys.stderr)
    time.sleep(15)
    waited += 15
    steal_before = steal_window()
if steal_before >= 0 and steal_before > MAX_STEAL:
    sys.exit(f"[oracle_bench] hypervisor steal still {steal_before:.1f}% "
             f"after {MAX_WAIT}s — refusing to record a contaminated "
             "times file")

oracle = json.loads(Path(sql_path).read_text())
times = {}
errors = {}
# steal sampled AROUND EVERY child run (the during gate): the r18 storm
# was bursty — a clean before/after pair can bracket a mid-run burst
steal_max, steal_worst, steal_sampled = -1.0, None, False
for name in sorted(oracle):
    if name in SKIP:
        errors[name] = "skipped via ORACLE_BENCH_SKIP (fails at smaller SF)"
        continue
    if name in SKIP_SLOW:
        errors[name] = ("skipped via ORACLE_BENCH_SKIP_SLOW (runs at the "
                        "smaller SF but its wall x scale-up exceeds the "
                        "per-query cap)")
        continue
    # the storm is BURSTY (r18: 0.4–11% minute to minute): a single dirty
    # window must not scrap a whole min-of-N recording — re-time THAT
    # query after waiting for quiet, keep the clean attempt, and refuse
    # at once if no attempt comes back clean (timing the remaining
    # queries first would only delay a file that is never written)
    attempts = int(os.environ.get("ORACLE_BENCH_STEAL_ATTEMPTS", "4"))
    sec = err = sp = None
    for attempt in range(attempts):
        j0, t0 = steal_jiffies(), time.perf_counter()
        sec, err = time_one(name)
        sp = steal_pct(j0, steal_jiffies(), time.perf_counter() - t0)
        if sp < 0 or sp <= MAX_STEAL:
            break
        if attempt + 1 == attempts:
            sys.exit(f"[oracle_bench] steal hit {sp:.1f}% during {name} "
                     f"(bar {MAX_STEAL}%) on all {attempts} attempts — "
                     "refusing to write")
        print(f"[oracle_bench] steal {sp:.1f}% during {name} "
              f"(attempt {attempt + 1}/{attempts}) — waiting for quiet "
              "and re-timing", file=sys.stderr)
        w = steal_window()
        waited = 0
        while w >= 0 and w > MAX_STEAL and waited < MAX_WAIT:
            time.sleep(15)
            waited += 15
            w = steal_window()
    if sp is not None and sp >= 0:
        steal_sampled = True
        if sp > steal_max:
            steal_max, steal_worst = sp, name
    if err is not None:
        errors[name] = err
        print(f"[oracle_bench] {name} FAILED: {err}", file=sys.stderr)
    else:
        times[name] = sec

# A spike can also land MID-run (it did): check again before writing.
# The check must be DECAY-AWARE: this script's own 32-thread run drives
# the 1-minute load to ~threads-used while it lasts (with multi-second
# oracles like the BPE family, ~18 on a 32-core host), so an absolute
# post-run threshold rejects every healthy recording. Self-load decays
# e-fold per minute once the run ends; an external process still running
# does not. Poll for decay, refuse only if load STAYS high.
MAX_LOAD_AFTER = float(os.environ.get("ORACLE_BENCH_MAX_LOAD_AFTER", "4.5"))
DECAY_WAIT = int(os.environ.get("ORACLE_BENCH_DECAY_WAIT_SEC", "300"))
waited = 0
while os.getloadavg()[0] > MAX_LOAD_AFTER and waited < DECAY_WAIT:
    time.sleep(15)
    waited += 15
if os.getloadavg()[0] > MAX_LOAD_AFTER:
    sys.exit(f"[oracle_bench] load still {os.getloadavg()[0]:.2f} "
             f"{DECAY_WAIT}s after the run — an external workload is "
             "active, refusing to write")
# stamp THIS load — the one the decay gate accepted. Sampling again
# after the probe replays re-measures our own 32-thread probe work and
# stamps a number above the gate (r9 committed 5.46 > 4.5 that way),
# making a clean recording read as a contaminated one.
load_at_gate = round(os.getloadavg()[0], 2)

# Decay can't distinguish a transient external spike that ENDED mid-run
# from our own (ended) work, so validate by reproducibility: replay the
# largest sub-second queries once on the now-quiet host (each in its own
# subprocess, same as the recording). A recorded time a spike INFLATED
# (the dangerous direction — it flatters every downstream vs_oracle
# ratio) replays much faster; a still-noisy host replays much slower.
# Refuse on either.
probes = [n for n, s in sorted(times.items(), key=lambda kv: -kv[1])
          if times[n] < 1.0][:3]
for name in probes:
    replay, err = time_one(name)
    if err is not None:
        sys.exit(f"[oracle_bench] probe {name} failed on replay: {err}")
    lo, hi = times[name] / 1.6 - 0.05, max(0.15, 1.6 * times[name])
    if not (lo <= replay <= hi):
        sys.exit(f"[oracle_bench] probe {name} replayed at {replay:.3f}s vs "
                 f"recorded {times[name]:.3f}s — recorded times are "
                 "contaminated, refusing to write")

out = {
    "_meta": {
        # absolute: a cwd-relative path (r9's "tmp/sf1") is not
        # reproducible from the artifact alone
        "sf_dir": str(Path(sf_dir).resolve()),
        "recorded_unix": int(time.time()),
        "load_avg": load_at_gate,
        "duckdb": duckdb.__version__,
        "threads": os.cpu_count(),
        "runs": RUNS,
        "timeout_sec": TIMEOUT or 0,
        # steal stats (r18 verdict item 1). NOTE for anyone adding fields:
        # graft.Bench parses this file with a flat `"name": number` regex —
        # NEVER add a map keyed by query names here or the parse collides;
        # scalar keys are harmless (no query is named max_pct).
        "steal": {
            "before_pct": round(steal_before, 2),
            "max_pct": round(steal_max, 2),
            "worst": steal_worst,
            "refuse_bar_pct": MAX_STEAL,
            "sampled": steal_sampled,
        },
        "errors": errors,
    },
    "times": times,
}
Path(out_path).write_text(json.dumps(out, indent=1, sort_keys=True) + "\n")
print(f"wrote {out_path}: {len(times)} queries, "
      f"total {sum(times.values()):.2f}s, load {out['_meta']['load_avg']}, "
      f"errors {len(errors)}")
