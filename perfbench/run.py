"""pollaspark benchmark: one command, four workloads.

    python3 perfbench/run.py --workload sql_sf01 --seed 1 --seconds 10 --trace 0

Run from the root of a checkout. It builds the program from source
(`build.py`), generates the workload's inputs from `--seed` (`gen.py`),
sets the program up three times, runs the workload's closed loop (a cold
pass, then warm passes scaled by `--seconds` down to a floor of ops per
workload), checks every output, and prints each end-to-end metric by name
and unit. The last stdout line is one JSON object:

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

With `--trace 1` the metrics are the per-layer ones, and the full span
tree, per-op layer rows and tracing overhead go to
`<build dir>/traces/<workload>-<seed>.json`. See perfbench/README.md.
"""
import argparse
import json
import os
import random
import re
import shutil
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)
import build  # noqa: E402
import stats  # noqa: E402

ROOT = build.ROOT
CATALOG = json.load(open(os.path.join(HERE, "catalog.json")))

# `sf`: table scale of the generated query inputs. `pass_s`: the nominal
# time of one warm pass on 4 cores. `jvms`: measuring JVMs a run; warm ops
# settle at a level that differs by a fifth from one JVM to the next, so
# the gated workloads pool two. Each measuring JVM makes one cold pass and
# then max(`min_warm`, round(seconds / pass_s / jvms)) warm passes, so
# every run of a workload times the same number of ops. `min_warm` keeps
# at least 24 warm ops a run (a pipeline warm pass is one cycle), so
# op_tail_ms, with 10 samples beyond it, lies above the median. Ingest
# makes exactly two passes (exact, then near) over `batches` batches.
WORKLOADS = {
    "sql_sf01": {"kind": "queries", "sf": 0.01, "pass_s": 1.5, "min_warm": 3, "jvms": 2},
    "corpus_sf01": {"kind": "queries", "sf": 0.01, "pass_s": 2.0, "min_warm": 5},
    "pipeline_fixture": {"kind": "pipeline", "pass_s": 1.1, "min_warm": 12, "jvms": 2},
    "ingest_sf01": {"kind": "ingest", "batches": 2, "batch_docs": 500},
}
SETUPS = 3            # set-up samples per run: set-up-only JVMs + the measuring ones
CLI_PAIRS = 1         # fresh-JVM graft.Main run + publish --dry-run pairs (traced pipeline)
END_TO_END = [("setup_s", "s"), ("cold_s", "s"), ("warm_s", "s"),
              ("op_p50_ms", "ms"), ("op_tail_ms", "ms"), ("ops_per_s", "1/s"),
              ("write_amp", "ratio")]
# the result line's metrics (BENCHMARK.json): ops_per_s is printed but not
# gated, being the ops of a warm pass over warm_s
GATED = [m for m in END_TO_END if m[0] != "ops_per_s"]
JDK_OPENS = ["java.lang", "java.lang.invoke", "java.lang.reflect", "java.io",
             "java.net", "java.nio", "java.util", "java.util.concurrent",
             "java.util.concurrent.atomic", "sun.nio.ch", "sun.nio.cs",
             "sun.security.action", "sun.util.calendar"]


def heap():
    """The repo's test-tier driver heap: half the RAM in GiB, 2..8."""
    try:
        kb = int(re.search(r"MemTotal:\s+(\d+)", open("/proc/meminfo").read()).group(1))
        return f"{min(8, max(2, kb // 2097152))}g"
    except (OSError, AttributeError):
        return "2g"


def cpu_probe_ms():
    """Median wall time of three runs of a fixed single-thread loop: the
    host's current speed, for the context line. On a shared host it moves
    by tens of percent from minute to minute, and every timing with it."""
    def once():
        t, x = time.perf_counter(), 0
        for i in range(1_000_000):
            x += i * i
        return (time.perf_counter() - t) * 1000
    return statistics.median(once() for _ in range(3))


def jvm_cmd(cp, tmp, main, args):
    opens = [x for p in JDK_OPENS for x in ("--add-opens", f"java.base/{p}=ALL-UNNAMED")]
    return (["java", *opens, f"-Xmx{heap()}", f"-Djava.io.tmpdir={tmp}",
             "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
             "-cp", cp, main] + args)


class Run:
    def __init__(self, a):
        self.a = a
        self.w = WORKLOADS[a.workload]
        self.cpus = os.cpu_count() or 1
        self.cp = build.build()
        self.dir = os.path.join(build.build_dir(), "runs", f"{a.workload}-{a.seed}-{os.getpid()}")
        shutil.rmtree(self.dir, ignore_errors=True)
        self.tmp = os.path.join(self.dir, "tmp")
        os.makedirs(self.tmp)
        self.env = dict(os.environ, SPARK_LOCAL_DIRS=os.path.join(self.dir, "spark-local"),
                        SPARK_MASTER=f"local[{self.cpus}]", TMPDIR=self.tmp)
        self.procs = []

    # -- inputs -------------------------------------------------------------
    def inputs(self):
        import gen
        kind, seed = self.w["kind"], self.a.seed
        warm = (max(self.w["min_warm"],
                    round(self.a.seconds / self.w["pass_s"] / self.w.get("jvms", 1)))
                if "pass_s" in self.w else 1)
        cfg = {"kind": kind, "cpus": self.cpus, "warm_passes": warm,
               "trace": bool(self.a.trace), "work": os.path.join(self.dir, "work")}
        if kind == "queries":
            cfg["data"] = os.path.join(self.dir, "data")
            gen.write_tables(seed, self.w["sf"], cfg["data"])
            self.sizes = {t: os.path.getsize(os.path.join(cfg["data"], f"{t}.parquet"))
                          for t in gen.TABLES}
            ops = list(CATALOG["probe"][self.a.workload])
            random.Random(seed).shuffle(ops)
            cfg["ops"] = ops
            cfg["membership"] = {k: CATALOG[k] for k in ("sql_sf01", "corpus_sf01")}
        elif kind == "pipeline":
            cfg["pages"] = os.path.join(self.dir, "pages")
            gen.write_pipeline(seed, warm + 1, cfg["pages"])
        else:
            d = os.path.join(self.dir, "batches")
            gen.write_ingest(seed, self.w["batches"], self.w["batch_docs"], d)
            cfg["batches"] = [os.path.join(d, f"batch_{i}.parquet") for i in range(self.w["batches"])]
        cfg["data"] = cfg.get("data", "")
        return cfg

    # -- JVM ------------------------------------------------------------------
    def start(self, cfg, mode):
        """Start one benchmark JVM; returns (process, launch epoch ms, result path, log)."""
        k = len(self.procs)
        c = dict(cfg, mode=mode, result=os.path.join(self.dir, f"result-{k}.json"))
        path = os.path.join(self.dir, f"cfg-{k}.json")
        json.dump(c, open(path, "w"))
        log = os.path.join(self.dir, f"jvm-{k}.log")
        t = time.time() * 1000
        p = subprocess.Popen(jvm_cmd(self.cp, self.tmp, "perfbench.PerfBench", [path]),
                             stdout=open(log, "w"), stderr=subprocess.STDOUT,
                             env=self.env, cwd=self.dir)
        self.procs.append(p)
        return p, t, c["result"], log

    def finish(self, p, t, result, log, timeout=150):
        """Wait for a started JVM; returns (launch epoch ms, result dict)."""
        try:
            p.wait(timeout=timeout)
        except subprocess.TimeoutExpired:
            p.kill()
            p.wait()
        if p.returncode != 0 or not os.path.exists(result):
            tail = open(log, errors="replace").read()[-3000:]
            raise RuntimeError(f"JVM exited {p.returncode}:\n{tail}")
        return t, json.load(open(result))

    def cli(self, args, timeout=120):
        """One fresh-JVM `graft.Main` child: (wall s, exit code, output, launch ms)."""
        t = time.time()
        p = subprocess.Popen(jvm_cmd(self.cp, self.tmp, "graft.Main", args),
                             stdout=subprocess.PIPE, stderr=subprocess.STDOUT,
                             env=self.env, cwd=self.dir, text=True)
        self.procs.append(p)
        try:
            out, _ = p.communicate(timeout=timeout)
        except subprocess.TimeoutExpired:
            p.kill()
            out, _ = p.communicate()
        return time.time() - t, p.returncode, out, t * 1000

    def stop(self):
        for p in self.procs:
            if p.poll() is None:
                p.kill()
                p.wait()

    # -- the run ----------------------------------------------------------------
    def go(self):
        self.probes = [cpu_probe_ms()]
        t0 = time.time()
        cfg = self.inputs()
        self.phases = {"inputs_s": time.time() - t0}
        # SETUPS set-up samples, one JVM after another so that none competes
        # with another for the cores: JVMs that exit once set up, then the
        # measuring ones, whose own ready times are the last samples. Each
        # measuring JVM runs the whole loop in its own work directory.
        jvms = self.w.get("jvms", 1)
        samples = [self.finish(*self.start(cfg, "setup"), timeout=120)
                   for _ in range(SETUPS - jvms)]
        t1 = time.time()
        for k in range(jvms):
            work = os.path.join(self.dir, f"work{k}") if k else cfg["work"]
            samples.append(self.finish(*self.start(dict(cfg, work=work, dump=k == 0), "run")))
        t2 = time.time()
        self.probes.append(cpu_probe_ms())
        res = merge([r for _, r in samples[-jvms:]])
        setups = [(r["ready_ms"] - t) / 1000 for t, r in samples]
        ops = res["ops"]
        bad = self.check(cfg, res)
        self.phases.update(setups_s=t1 - t0 - self.phases["inputs_s"],
                           run_jvm_s=t2 - t1, timed_s=res["timed_s"], checks_s=time.time() - t2)
        layer = stats.layers(res, self.cpus) if self.a.trace else {}
        if self.a.trace:
            layer["jvm.peak_rss_mb"] = res["vm_hwm_kb"] / 1024
        if self.w["kind"] == "ingest" and self.a.trace:
            layer.update(self.ingest_layers(res))
        if self.w["kind"] == "pipeline" and self.a.trace:
            layer.update(self.cli_children(cfg, bad))
        m = {"setup_s": statistics.median(setups)}
        m.update(stats.end_to_end(ops, self.op_input_bytes(ops, cfg), res,
                                  docs=self.w["batch_docs"] if self.w["kind"] == "ingest" else None))
        attempted = len(ops) + (2 * CLI_PAIRS if self.w["kind"] == "pipeline" and self.a.trace else 0)
        failed = len({op for op, _ in bad})
        return m, layer, attempted, failed, bad, res, setups

    def op_input_bytes(self, ops, cfg):
        """Input bytes each op processes, for write_amp."""
        def size(o):
            if self.w["kind"] == "ingest":
                return os.path.getsize(cfg["batches"][batch_of(o)])
            if self.w["kind"] == "pipeline":
                d = os.path.join(cfg["pages"], f"cycle_{o['op'].split('/')[-1][1:]}")
                return sum(os.path.getsize(os.path.join(d, s, "page.html"))
                           for s in ("openloto", "polla"))
            return sum(self.sizes[t] for t in CATALOG["reads"][o["name"]])
        return [size(o) for o in ops]

    # -- output checks --------------------------------------------------------------
    def check(self, cfg, res):
        """Ops that failed or returned a wrong result: [(op, reason)]."""
        bad = [(o["op"], o.get("error", "failed")) for o in res["ops"] if not o["ok"]]
        if self.w["kind"] == "queries":
            wrong = self.oracle(cfg)
            bad += [(o["op"], wrong[o["name"]]) for o in res["ops"]
                    if o["ok"] and o["name"] in wrong]
        elif self.w["kind"] == "ingest":
            bad += self.ingest_checks(cfg, res)
        return bad

    def oracle(self, cfg):
        """Each probe query's dumped result against DuckDB, with the repo's
        own checker (`scripts/oracle_check.py`): {name: reason}."""
        vdir = os.path.join(cfg["work"], "verify")
        env = dict(self.env, ORACLE_CHECK_MEM="2GB",
                   ORACLE_CHECK_SPILL=os.path.join(self.dir, "duckdb-spill"))
        r = subprocess.run([sys.executable, os.path.join(ROOT, "scripts", "oracle_check.py"),
                            cfg["data"], vdir], capture_output=True, text=True, env=env,
                           cwd=self.dir, timeout=150)
        out, wrong, in_fail = r.stdout, {}, False
        for line in out.splitlines():
            if line.startswith("== FAIL"):
                in_fail = True
            elif line.startswith("=="):
                in_fail = False
            elif in_fail and line.startswith("  "):
                name, _, msg = line.strip().partition(": ")
                wrong[name] = "oracle: " + msg
        checked = [n for n in cfg["ops"] if os.path.isdir(os.path.join(vdir, n))]
        if r.returncode not in (0, 1) or "== OK" not in out or len(checked) != len(cfg["ops"]):
            wrong.update({n: "oracle check did not run: " + (r.stderr or out)[-300:]
                          for n in cfg["ops"]})
        return wrong

    def ingest_checks(self, cfg, res):
        """Exact: accepted ids == one batch distinct (md5 of trimmed,
        lowercased text; lowest doc_id keeps) over the whole stream.
        Near: no verbatim copy of an earlier document is accepted."""
        import hashlib
        import pyarrow.parquet as pq
        kinds = json.load(open(os.path.join(os.path.dirname(cfg["batches"][0]), "kinds.json")))
        keep, bad = {}, []
        for b, path in enumerate(cfg["batches"]):
            t = pq.read_table(path).to_pydict()
            for i, txt in zip(t["doc_id"], t["text"]):
                keep.setdefault(hashlib.md5(txt.strip(" ").lower().encode()).hexdigest(), i)
        expected = set(keep.values())
        self.accepted = {}
        for o in res["ops"]:
            mode, b = o["name"], batch_of(o)
            d = os.path.join(cfg["work"], f"accepted_{mode}", f"batch_{b}")
            ids = set(pq.read_table(d).column("doc_id").to_pylist()) if os.path.isdir(d) else set()
            self.accepted[o["op"]] = len(ids)
            batch = pq.read_table(cfg["batches"][b]).column("doc_id").to_pylist()
            if mode == "exact" and ids != expected & set(batch):
                bad.append((o["op"], f"exact accepted {len(ids)}, distinct says {len(expected & set(batch))}"))
            if mode == "near":
                copies = [i for i, k in zip(batch, kinds[b]) if k == "copy" and i in ids]
                if copies:
                    bad.append((o["op"], f"near accepted {len(copies)} verbatim copies"))
        return bad

    def ingest_layers(self, res):
        """Accept ratios and the state roots' final size on disk."""
        out, acc, last = {}, 0, {}
        for mode in INGEST_MODES:
            these = [o for o in res["ops"] if o["name"] == mode]
            n = sum(self.accepted[o["op"]] for o in these)
            acc += n
            out[f"ops.IncrementalDedup.{mode}_accept_ratio"] = n / (len(these) * self.w["batch_docs"])
            last[mode] = these[-1]
        for f in ("bytes", "files", "versions"):
            out[f"ops.StateTable.{f}"] = float(sum(o[f"state_{f}"] for o in last.values()))
        out["ops.StateTable.bytes_per_doc"] = out["ops.StateTable.bytes"] / max(1, acc)
        return out

    def cli_children(self, cfg, bad):
        """`graft.Main run` and `graft.Main publish --dry-run` as fresh JVMs
        over cycle 0's pages (a new draw the sources agree on)."""
        runs, drys, starts = [], [], []
        for k in range(CLI_PAIRS):
            wd = os.path.join(self.dir, f"cli-{k}")
            fx = os.path.join(cfg["pages"], "cycle_0")
            wall, code, text, t = self.cli(["run", "--work-dir", wd, "--fixture-dir", fx])
            if code != 0 or "decision=publish " not in text:
                bad.append((f"cli-run-{k}", f"exit {code}: {text[-300:]}"))
            runs.append(wall)
            try:
                ev = [json.loads(x) for x in open(os.path.join(wd, "logs", "pipeline.jsonl"))]
                ts = next(e["timestamp"] for e in ev if e["event"] == "pipeline_start")
                starts.append(stats.iso_ms(ts) - t)
            except (OSError, StopIteration, ValueError):
                bad.append((f"cli-run-{k}", "no pipeline_start event"))
            wall, code, text, _ = self.cli(["publish", "--work-dir", wd, "--dry-run",
                                            "--summary", os.path.join(wd, "run_summary.json")])
            if code != 0 or "run summary decision=publish" not in text or "+ " not in text:
                bad.append((f"cli-dry-{k}", f"exit {code}: {text[-300:]}"))
            drys.append(wall)
        self.cli_s = {"cli_run_s": statistics.median(runs),
                      "cli_publish_dry_s": statistics.median(drys)}
        return {"Main.startup_ms": statistics.median(starts) if starts else 0.0,
                "Main.cli_run_ms": self.cli_s["cli_run_s"] * 1000,
                "Main.cli_publish_dry_ms": self.cli_s["cli_publish_dry_s"] * 1000}


INGEST_MODES = ("exact", "near")


def batch_of(op):
    """The batch index of an ingest op (`exact0`, `near1`, ...)."""
    return int(op["op"][len(op["name"]):])


def merge(results):
    """One result from the measuring JVMs of a run. With more than one,
    each JVM's op keys get a `j<k>/` prefix, in the spans and Spark totals
    keyed by them too, and each op row records its `jvm`; counters add up."""
    if len(results) == 1:
        return results[0]
    out = {"ops": [], "spans": [], "spark": {}, "wchar": 0, "timed_s": 0.0,
           "vm_hwm_kb": max(r["vm_hwm_kb"] for r in results)}
    for f in ("steal_pct", "iowait_pct"):
        out[f] = statistics.mean(r.get(f, -1) for r in results)
    for k, r in enumerate(results):
        pre, off = f"j{k}/", k * 10_000_000
        out["ops"] += [dict(o, op=pre + o["op"], jvm=k) for o in r["ops"]]
        out["spans"] += [dict(sp, id=sp["id"] + off, op=pre + sp["op"],
                              parent=sp["parent"] + off if sp["parent"] >= 0 else -1)
                         for sp in r.get("spans", [])]
        out["spark"].update({pre + key: v for key, v in r.get("spark", {}).items()})
        out["wchar"] += r["wchar"]
        out["timed_s"] += r["timed_s"]
    return out


def main(argv=None):
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args(argv)
    try:
        run = Run(a)
    except build.BuildError as e:
        print(f"perfbench: {e}", file=sys.stderr)
        return 2
    try:
        m, layer, attempted, failed, bad, res, setups = run.go()
    except Exception as e:  # a failed set-up or JVM: no result line
        print(f"perfbench: {a.workload} failed: {e}", file=sys.stderr)
        return 1
    finally:
        run.stop()
        shutil.rmtree(run.dir, ignore_errors=True)
    report(a, run, m, layer, attempted, failed, bad, res, setups)
    return 0


def report(a, run, m, layer, attempted, failed, bad, res, setups):
    tail = m.pop("_tail")
    ctx = {"steal_pct": res.get("steal_pct", -1), "iowait_pct": res.get("iowait_pct", -1),
           "peak_rss_mb": round(res["vm_hwm_kb"] / 1024, 1),
           "load1": os.getloadavg()[0], "nproc": run.cpus, "heap": heap(),
           "cpu_probe_ms": [round(x, 1) for x in run.probes],
           "setup_samples_s": [round(x, 3) for x in setups],
           "op_tail": tail, "phases_s": {k: round(v, 2) for k, v in run.phases.items()}}
    print(f"# {a.workload} seed={a.seed} seconds={a.seconds} trace={a.trace}")
    for k, u in END_TO_END:
        print(f"{a.workload} {k} = {m[k]:.6g} {u}")
    print(f"{a.workload} failed_share = {failed / max(1, attempted):.6g} ({failed}/{attempted})")
    for k, v in getattr(run, "cli_s", {}).items():
        print(f"{a.workload} {k} = {v:.6g} s")
    print(f"{a.workload} context = {json.dumps(ctx)}")
    for op, why in bad[:20]:
        print(f"{a.workload} WRONG {op}: {why}")
    last = os.path.join(build.build_dir(), "last", f"{a.workload}.json")
    if a.trace:
        base = json.load(open(last)) if os.path.exists(last) else None
        overhead = {k: m[k] / base[k] - 1 for k in ("cold_s", "warm_s", "op_p50_ms")
                    if base.get(k)} if base else None
        print(f"{a.workload} trace_overhead = {json.dumps(overhead)} (traced vs last untraced run)")
        for k in sorted(layer):
            print(f"{a.workload} {k} = {layer[k]:.6g}")
        tdir = os.path.join(build.build_dir(), "traces")
        os.makedirs(tdir, exist_ok=True)
        tpath = os.path.join(tdir, f"{a.workload}-{a.seed}.json")
        json.dump({"workload": a.workload, "seed": a.seed, "end_to_end": m, "context": ctx,
                   "trace_overhead": overhead, "layers": layer,
                   "per_op": stats.per_op(res), "spans": res.get("spans", [])},
                  open(tpath, "w"), indent=1)
        print(f"{a.workload} trace written to {os.path.relpath(tpath, ROOT)}")
        metrics = {k: {"value": layer.get(k, 0.0), "unit": u} for k, u in stats.PER_LAYER}
    else:
        os.makedirs(os.path.dirname(last), exist_ok=True)
        json.dump(dict(m, seed=a.seed, ops=[{k: o[k] for k in ("op", "pass", "ms")}
                                            for o in res["ops"]]), open(last, "w"))
        metrics = {k: {"value": m[k], "unit": u} for k, u in GATED}
    print(json.dumps({"correct": failed == 0, "attempted": attempted, "failed": failed,
                      "metrics": metrics}))


if __name__ == "__main__":
    sys.exit(main())
