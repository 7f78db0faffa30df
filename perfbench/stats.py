"""Statistics of one benchmark run, from the JVM side's result JSON.

End-to-end metrics summarise the op rows; per-layer metrics summarise the
span tree and the per-op Spark/JVM counters of a traced run. Per-layer
time and count metrics are means per warm op; `jvm.codegen_*` and
`jvm.jit_ms` are totals of a JVM's cold pass, where first-run cost lands.
Runs with ingest batches (`ingest_sf01`, and `corpus_sf01`'s cold pass)
add their `ops.IncrementalDedup.*` and `ops.StateTable.*` figures
(run.py), which BENCHMARK.json does not list.
"""
import datetime as dt
import statistics

# The per-layer metrics of the JSON result line (and BENCHMARK.json): those
# measured on every gated workload. Layer times that only one workload
# reaches (sources, ops.*, Main, Queries, plans) would read 0 on the other;
# they are printed and written to the trace file instead.
PER_LAYER = [
    ("spark.jobs", "count"), ("spark.stages", "count"), ("spark.tasks", "count"),
    ("spark.tasks_per_stage", "ratio"), ("spark.slot_util", "ratio"),
    ("spark.sched_delay_ms", "ms"), ("spark.exec_cpu_ms", "ms"),
    ("spark.shuffle_write_mb", "MB"), ("spark.shuffle_read_mb", "MB"),
    ("spark.input_rows", "count"),
    ("jvm.codegen_compiles", "count"), ("jvm.codegen_ms", "ms"), ("jvm.jit_ms", "ms"),
    ("jvm.gc_ms", "ms"), ("jvm.peak_rss_mb", "MB"),
]
# span name -> per-layer metric, as (metric, inclusive or self time)
SPAN_METRICS = {
    "sources.fetch": ("sources.fetch_ms", "incl"),
    "ops.Consensus.merge": ("ops.Consensus.merge_ms", "incl"),
    "ops.RunPipeline.run": ("ops.RunPipeline.self_ms", "self"),
    "ops.Publish": ("ops.Publish.ms", "incl"),
    "Queries.build": ("Queries.build_ms", "incl"),
    "plans.plan": ("plans.plan_ms", "incl"),
}
MB = 1024 * 1024


def tail(values):
    """The highest percentile with at least 10 samples beyond it: with n
    sorted samples that is the (n-10)-th, at percentile 100*(n-10)/n.
    Returns (percentile, value, n); below 11 samples, the maximum at 100."""
    s, n = sorted(values), len(values)
    if n >= 11:
        return 100.0 * (n - 10) / n, s[n - 11], n
    return 100.0, s[-1], n


def self_times(spans):
    """{span id: (inclusive ns, self ns)}; self = own span minus the time
    its direct children cover."""
    incl = {s["id"]: s["t1"] - s["t0"] for s in spans}
    child = {}
    for s in spans:
        if s["parent"] in incl:
            child[s["parent"]] = child.get(s["parent"], 0) + incl[s["id"]]
    return {i: (v, v - child.get(i, 0)) for i, v in incl.items()}


def iso_ms(ts):
    return dt.datetime.fromisoformat(ts.replace("Z", "+00:00")).timestamp() * 1000


def end_to_end(ops, in_bytes, res, docs=None):
    """cold_s is the median cold pass over the measuring JVMs; warm_s the
    median warm pass (a query workload makes several; in the pipeline a
    JVM's warm pass is all its cycles after the first, in ingest the near
    pass). Latencies pool the warm ops of all measuring JVMs."""
    passes = {}
    for o in ops:
        key = (o.get("jvm", 0), o["pass"])
        passes[key] = passes.get(key, 0.0) + o["ms"]
    cold = [v for (_, p), v in passes.items() if p == 0]
    warm = [o for o in ops if o["pass"] > 0]
    warm_ms = [o["ms"] for o in warm]
    pct, val, n = tail(warm_ms)
    warm_passes = [v for (_, p), v in passes.items() if p > 0]
    warm_s = statistics.median(warm_passes) / 1000
    return {
        "cold_s": statistics.median(cold) / 1000,
        "warm_s": warm_s,
        "op_p50_ms": statistics.median(warm_ms),
        "op_tail_ms": val,
        "ops_per_s": len(warm) / len(warm_passes) * (docs or 1) / warm_s,
        "write_amp": res["wchar"] / sum(in_bytes),
        "_tail": {"percentile": round(pct, 2), "samples": n, "beyond": min(10, n - 1)},
    }


def per_op(res):
    """One row per timed op: wall, layer times (inclusive and self), Spark
    and JVM counters."""
    st = self_times(res.get("spans", []))
    rows = {o["op"]: dict(o, layers={}) for o in res["ops"]}
    for s in res.get("spans", []):
        if s["op"] in rows:
            incl, own = st[s["id"]]
            lay = rows[s["op"]]["layers"].setdefault(s["name"], {"incl_ms": 0.0, "self_ms": 0.0})
            lay["incl_ms"] += incl / 1e6
            lay["self_ms"] += own / 1e6
    for key, sp in res.get("spark", {}).items():
        if key in rows:
            rows[key]["spark"] = sp
    return list(rows.values())


def layers(res, cpus):
    """Per-layer metrics of a traced run."""
    rows = per_op(res)
    warm = [r for r in rows if r["pass"] > 0] or rows
    cold = [r for r in rows if r["pass"] == 0]
    out = {}
    for span, (metric, which) in SPAN_METRICS.items():
        k = "incl_ms" if which == "incl" else "self_ms"
        out[metric] = sum(r["layers"].get(span, {}).get(k, 0.0) for r in warm) / len(warm)
    for mode in ("exact", "near"):
        these = [r for r in rows if r["name"] == mode]
        if these:
            out[f"ops.IncrementalDedup.{mode}_batch_ms"] = statistics.mean(
                r["layers"].get(f"ops.IncrementalDedup.{mode}", {}).get("incl_ms", 0.0) for r in these)
    jvms = len({r.get("jvm", 0) for r in rows})
    sp = [r.get("spark", {}) for r in warm]
    tot = lambda f: sum(s.get(f, 0.0) for s in sp)
    n = len(warm)
    out.update({
        "Queries.eager_qes": tot("eager_qes") / n,
        "spark.jobs": tot("jobs") / n, "spark.stages": tot("stages") / n,
        "spark.tasks": tot("tasks") / n,
        "spark.tasks_per_stage": tot("tasks") / tot("stages") if tot("stages") else 0.0,
        "spark.slot_util": tot("task_ms") / (sum(r["ms"] for r in warm) * cpus),
        "spark.sched_delay_ms": tot("sched_delay_ms") / tot("tasks") if tot("tasks") else 0.0,
        "spark.exec_cpu_ms": tot("cpu_ms") / n, "spark.exec_gc_ms": tot("gc_ms") / n,
        "spark.shuffle_write_mb": tot("shuffle_write_b") / MB / n,
        "spark.shuffle_read_mb": tot("shuffle_read_b") / MB / n,
        "spark.spill_mb": tot("spill_b") / MB / n, "spark.input_rows": tot("input_rows") / n,
        "jvm.codegen_compiles": sum(r.get("jvm.codegen_compiles", 0.0) for r in cold) / jvms,
        "jvm.codegen_ms": sum(r.get("jvm.codegen_ms", 0.0) for r in cold) / jvms,
        "jvm.jit_ms": sum(r.get("jvm.jit_ms", 0.0) for r in cold) / jvms,
        "jvm.gc_ms": sum(r.get("jvm.gc_ms", 0.0) for r in warm) / n,
    })
    return out
