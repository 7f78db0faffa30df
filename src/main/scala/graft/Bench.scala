package graft
import graft.ops.Observability.{QueryMetrics, StageRecord, labelled}

/** Benchmark driver: times every declared query at the SF directory in
  * `SPARK_GRAFT_SF_DIR`. Prints ONE compact JSON line sized to fit the
  * driver's ~2 kB stdout-tail capture whole (headline scalars +
  * vs_oracle + per-query seconds as a values array in query-name
  * order); the full name-keyed artifact is written to `bench_out.json`
  * (`SPARK_GRAFT_BENCH_OUT`) — a stdout-tail capture truncates that
  * line once the per-query map grows (it did, rounds 5–10).
  *
  * Measurement hygiene (bench noise burned round 2 — see VERDICT.md):
  *  - untimed warmup actions initialize JVM/codegen/parquet/shuffle
  *    machinery before anything is timed;
  *  - each query runs TWICE and reports the min — the first execution of a
  *    complex plan still absorbs one-time janino compilation that would
  *    otherwise be charged to whichever query sorts first;
  *  - the host 1-minute load average is stamped into the JSON (`load_avg`)
  *    so a contention-polluted run is identifiable after the fact;
  *  - a quiet-host GATE: if the 1-minute load exceeds
  *    `SPARK_GRAFT_MAX_LOAD` (default 4.0) the bench WAITS (up to
  *    `SPARK_GRAFT_LOAD_WAIT_SEC`, default 600 s) for the host to go
  *    quiet before timing anything — r3/r4 driver benches recorded 3–5×
  *    phantom regressions purely from host contention. The gate outcome
  *    (`load_gate`: initial/at_start load, seconds waited, passed) is
  *    stamped so a reader can reject a run that timed out still-loaded;
  *  - load is RE-SAMPLED after every query and the max stamped
  *    (`during_max` / `during_clean`) — the r5 pollution landed mid-run,
  *    invisible to a start-only gate. The during threshold
  *    (`SPARK_GRAFT_MAX_LOAD_DURING`, default 7.0) sits just above the
  *    ~5.9 the full pass's own local[32] work peaks at on a
  *    verified-idle host;
  *  - a pass whose `during_max` exceeds the bar is RE-TIMED (up to
  *    `SPARK_GRAFT_BENCH_ATTEMPTS`, default 3, waiting for quiet between
  *    attempts); the cleanest pass is recorded. The r5/r7 verdicts both
  *    rejected artifacts written from contended runs — dirty passes are
  *    now discarded at the source, not annotated after the fact.
  *
  * If `scripts/oracle_times_<sf>.json` exists (recorded by
  * `scripts/oracle_bench.py`), per-query DuckDB seconds and the
  * Spark/DuckDB ratio are emitted (`oracle_total`, `vs_oracle`,
  * per-query `oracle` map) so a perf regression is visible in the bench
  * artifact itself.
  *
  * Per-stage attribution: every completed stage of a timed query is
  * written as one JSON line (query, stage, attempt, tasks, wall/run/GC
  * seconds, input records, shuffle read/write MB and records, memory/disk
  * spill MB, the SQL execution id, the stage's call-site name) to
  * `<bench_out>_stages.jsonl` beside the full artifact, from the kept
  * pass. A query's `shuf_write_mb` sum over its lines, divided by the
  * runs, is its `shuffle_mb`. The stage stream says which
  * exchange/sort/agg owns the wall and the spill without a per-operator
  * harness.
  *
  * `SPARK_GRAFT_ONLY=name1,name2` restricts the run (local iteration);
  * `SPARK_GRAFT_RUNS=n` overrides the per-query run count (default 2) —
  * `SPARK_GRAFT_ONLY=a,b SPARK_GRAFT_RUNS=1` is a one-run stage probe.
  * The session is [[Session.suite]].
  */
object Bench {
  def main(args: Array[String]): Unit = {
    // every f"...%.Nf" below builds JSON: a comma-decimal default locale
    // would emit invalid JSON, so pin the root locale process-wide
    java.util.Locale.setDefault(java.util.Locale.ROOT)
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val runs = sys.env.getOrElse("SPARK_GRAFT_RUNS", "2").toInt
    val only = sys.env.get("SPARK_GRAFT_ONLY")
      .map(_.split(",").map(_.trim).filter(_.nonEmpty).toSet)
    // SPARK_GRAFT_SKIP=a,b excludes named queries from a pass — the
    // out-of-envelope escape for a big-SF suite (r17: semantic_dedup's
    // DECLARED fixed-16-cell blocking is quadratic by construction,
    // ~125 B in-cell pairs at sf100's 2 M vectors ≈ hours on this box —
    // the same corpus class where the DuckDB oracle times out at 360 s).
    // A skipped query is visibly absent: the artifact's q_filter stamps
    // the selected set, never a silent shrink.
    val skip = sys.env.get("SPARK_GRAFT_SKIP")
      .map(_.split(",").map(_.trim).filter(_.nonEmpty).toSet)
      .getOrElse(Set.empty[String])
    def load(): Double = java.lang.management.ManagementFactory
      .getOperatingSystemMXBean.getSystemLoadAverage
    // Hypervisor STEAL time (r16): this box is a VM, and the r14/r15
    // "host drift" regressions — 2-4× per-query swings on unchanged code
    // with during_max under the bar — are consistent with bursty CPU
    // steal, which the 1-minute load average cannot see (stolen cycles
    // don't queue runnable tasks in the guest). /proc/stat field 8 is
    // cumulative steal jiffies (USER_HZ=100) summed over all cpus;
    // sampled per query, it converts "ambient noise" from an inference
    // into a recorded, per-query number. iowait (field 5) rides along:
    // it separates writeback/page-cache pollution (e.g. a just-written
    // 20 GB scale corpus still flushing) from hypervisor contention —
    // both ride the full artifact as per-query maps (r17 ADVICE: the
    // iowait claim was unfulfilled in Bench output until then).
    // Sampling is guarded (tools.ProcStat): a failed read yields None
    // and the query's steal/iowait are recorded as the -1 sentinel —
    // never a zero-substituted bogus delta that dirties the pass.
    def cpuStat(): Option[(Long, Long)] = tools.ProcStat.stealIowait()
    val ncpus = Runtime.getRuntime.availableProcessors()
    // quiet-host gate: refuse to time on a loaded host; wait (bounded)
    // for the 1-minute load to drop below the threshold first
    val maxLoad = sys.env.getOrElse("SPARK_GRAFT_MAX_LOAD", "4.0").toDouble
    val maxWaitSec = sys.env.getOrElse("SPARK_GRAFT_LOAD_WAIT_SEC", "600").toInt
    val initialLoad = load()
    var waitedSec = 0
    while (load() > maxLoad && waitedSec < maxWaitSec) {
      System.err.println(f"[bench] load ${load()}%.2f > $maxLoad%.1f — waiting for quiet host ($waitedSec/$maxWaitSec s)")
      Thread.sleep(15000); waitedSec += 15
    }
    val loadAvg = load()
    val gatePassed = loadAvg <= maxLoad
    val spark = Session.build(Session.suite())
    // Untimed warmup: JVM/codegen/parquet-driver init would otherwise be
    // charged to whichever query happens to run first.
    spark.range(1000000).selectExpr("sum(id * 2)").collect()
    // one tiny shuffle: initializes the shuffle/AQE machinery so the
    // first timed query isn't charged for engine bring-up
    spark.range(10000).selectExpr("id % 7 AS k", "id AS v")
      .groupBy("k").sum("v").collect()
    spark.read.parquet(s"$sfDir/region.parquet").count()
    spark.read.parquet(s"$sfDir/documents.parquet").count()
    spark.read.parquet(s"$sfDir/embeddings.parquet").count()
    // Stage accounting (shuffle_mb and the stage lines): each query runs
    // under its name as the correlation id, so its stages are its own.
    // Stage-completed events are delivered async; draining the listener
    // bus after each query delivers its stages before they are taken.
    val metrics = new QueryMetrics
    spark.sparkContext.addSparkListener(metrics)
    val selected = SparkEntry.queries.toSeq.sortBy(_._1)
      .filter { case (name, _) => only.forall(_.contains(name)) }
      .filterNot { case (name, _) => skip.contains(name) }
    // the during threshold separates the bench's OWN load from EXTERNAL
    // contention — the r7 artifact recorded a 2.58× phantom regression at
    // during_max 4.93 that an idle re-run measured at 1.80×, and the old
    // default (cpus+4 = 36) let every dirty run stamp "clean".
    // Calibration (r9; re-measured r16): the full 143-query pass at
    // local[32] peaks ~5.9 on a verified-idle host (the r9-era "~5.5"
    // predates later speedups that keep all 32 threads busier). 7.0
    // sits just above self-load and still far below the ~20 contention
    // spikes the gate exists to catch — and since r16 the STEAL gate
    // carries the subtle-pollution detection this bar used to strain
    // at, so the load bar only needs to catch gross in-guest
    // contention. A different host must recalibrate via
    // SPARK_GRAFT_MAX_LOAD_DURING (self-load + ~1) or every pass burns
    // all retry attempts and stamps dirty.
    val duringMax = sys.env.getOrElse("SPARK_GRAFT_MAX_LOAD_DURING", "7.0").toDouble
    // load is re-sampled after every query, not only at the start: the r5
    // artifact was polluted by a spike that landed MID-run and the
    // start-only gate could not see it. `load_max` makes that visible.
    // The timed ACTION (r17) writes to Spark's no-op sink — every declared
    // output column is computed and materialized, none of the I/O is
    // charged. The pre-r17 count() let Catalyst PRUNE declared work:
    // count() needs no columns, so e.g. graph_pagerank's rank join (left
    // outer against a distinct-keyed aggregate) was eliminated and the
    // entire power iteration never ran — the sf10 stage log showed the
    // "41 s" suite number was the graph BUILD alone, and any
    // projection-final query was billing scan-only work against a DuckDB
    // oracle that always materializes its full result. noop measures
    // what Verify dumps and what the oracle pays — the comparable thing.
    def runAction(df: org.apache.spark.sql.DataFrame): Unit =
      df.write.format("noop").mode("overwrite").save()
    // a pass is dirty when EITHER the load gate trips OR any query saw
    // steal above this share of its cpu-seconds — 5% of 32 cores for a
    // whole query is far beyond the ~0-1% idle baseline measured here
    val maxStealPct =
      sys.env.getOrElse("SPARK_GRAFT_MAX_STEAL_PCT", "5.0").toDouble
    final case class QRes(name: String, sec: Double, shuffleMb: Double,
      stealPct: Double, iowaitPct: Double, stages: Seq[StageRecord])
    def timedPass(): (Seq[QRes], Double, Double) = {
      var loadMax = load()
      var stealMax = 0.0
      val rs = selected.map { case (name, fn) =>
        val cpu0 = cpuStat()
        val tq0 = System.nanoTime()
        val times = labelled(spark, name) {
          (1 to runs).map { _ =>
            val t0 = System.nanoTime()
            try { runAction(fn(spark, sfDir)); (System.nanoTime() - t0) / 1e9 }
            catch {
              // the -1 sentinel is handled downstream, but an artifact that
              // records -1 with zero diagnostic cannot explain itself (r13
              // verdict item 5) — name the failure on stderr, never stdout
              // (stdout carries the one-line JSON contract)
              case e: Throwable =>
                System.err.println(s"bench: $name failed: " +
                  s"${e.getClass.getName}: ${String.valueOf(e.getMessage).take(300)}")
                -1.0
            }
          }
        }
        QueryMetrics.drain(spark)
        loadMax = math.max(loadMax, load())
        // steal/iowait as a % of this query's total cpu-seconds (wall ×
        // ncpus): the denominator covers all runs of the query plus the
        // bus drain — slight underestimate per run, stable to compare
        val wallQ = (System.nanoTime() - tq0) / 1e9
        val cpu1 = cpuStat()
        val stealPct = tools.ProcStat.pct(cpu0, cpu1, wallQ, ncpus, _._1)
        val iowaitPct = tools.ProcStat.pct(cpu0, cpu1, wallQ, ncpus, _._2)
        // a missing sample (-1 sentinel) must not drive the dirt gate
        if (stealPct >= 0) stealMax = math.max(stealMax, stealPct)
        // a stage an earlier query left running (an AQE stage it no
        // longer needed) completes under that query's id: not this one's
        val stages = metrics.take().filter(_.query == name)
        val shuffleMb = stages.map(_.shuffleWriteBytes).sum / 1e6 / runs
        // per-query hygiene (r10 verdict item 4): a 139-query pass in ONE
        // JVM accumulates session state — persisted frames a query left
        // behind (SharedIndex postings), localCheckpoint blocks from the CC
        // rounds (freed only when the driver GC runs ContextCleaner) — and
        // the sf10 full-suite read measurably higher than isolated per-op
        // probes from the GC pressure. Between queries (never between the
        // runs of one query — that would distort min-of-2): drop the cache,
        // and nudge a GC so ContextCleaner releases dead checkpoint/shuffle
        // state. Untimed.
        // gc → drain → gc: the first GC lets ContextCleaner DISCOVER the
        // dead checkpoint/shuffle/broadcast refs (weak-ref processing),
        // the pause lets its async unpersist queue drain, and the second
        // GC collects what the cleaner just released — one GC leaves the
        // release half-done and the NEXT query pays it (r13: the 142-
        // query pass read ids_stable_assign at 8.76 s where isolated
        // min-of-3 measures 0.78 s). Still untimed, still never between
        // the runs of one query.
        spark.catalog.clearCache(); System.gc()
        Thread.sleep(250); System.gc()
        // a query is failed only if EVERY run failed; one bad run must not
        // discard the other run's valid timing
        QRes(name, times.filter(_ >= 0).minOption.getOrElse(-1.0),
          shuffleMb, stealPct, iowaitPct, stages)
      }
      (rs, loadMax, stealMax)
    }
    // a contaminated pass is NOT recorded if retries remain: wait for the
    // host to go quiet again, then re-time everything. The r5 and r7
    // verdicts both ordered "stop committing dirty bench artifacts" —
    // refusing to keep a dirty pass is the mechanism. Keep the cleanest
    // pass if every attempt is dirty (still stamped during_clean:false).
    val maxAttempts = sys.env.getOrElse("SPARK_GRAFT_BENCH_ATTEMPTS", "3").toInt
    // dirt score: how far the pass exceeds EITHER cleanliness bar (load
    // or steal), normalized so the two are comparable; ≤ 1 is clean
    def dirt(p: (Seq[QRes], Double, Double)): Double =
      math.max(p._2 / duringMax, p._3 / maxStealPct)
    var attempt = 1
    var best = timedPass()
    while (dirt(best) > 1.0 && attempt < maxAttempts) {
      System.err.println(f"[bench] dirty pass (during_max ${best._2}%.2f/$duringMax%.1f, steal_max ${best._3}%.1f%%/$maxStealPct%.1f%%) — re-timing (attempt ${attempt + 1}/$maxAttempts)")
      var w = 0
      while (load() > maxLoad && w < maxWaitSec) { Thread.sleep(15000); w += 15 }
      attempt += 1
      val next = timedPass()
      if (dirt(next) < dirt(best)) best = next
    }
    val (results, loadMax, stealMax) = best
    // the CLEANLINESS gate keeps its measured-only semantics (a host
    // with no readable /proc/stat must not burn retry attempts), but
    // the REPORTED max carries the -1 sentinel when nothing was sampled
    val stealSampled = results.exists(_.stealPct >= 0)
    val stealMaxRep = if (stealSampled) stealMax else -1.0
    val duringClean = loadMax <= duringMax && stealMax <= maxStealPct
    // 4-dp per-query seconds: sub-0.1 ms precision is noise, and the
    // shorter line is what lets the whole map survive the driver's
    // stdout-tail capture (see the field-order note below)
    val qs = results.map { r =>
        s"\"" + r.name + "\":" + (if (r.sec < 0) "-1" else f"${r.sec}%.4f") }
      .mkString("{", ",", "}")
    val shJson = results.map(r => f""""${r.name}":${r.shuffleMb}%.2f""")
      .mkString("{", ",", "}")
    // per-query steal% in the durable artifact: when one name-range of a
    // pass reads 2-4× its sibling artifacts, this map says whether those
    // minutes were stolen by the hypervisor (full artifact only — the
    // compact line carries just the max)
    val stealJson = results.map(r => f""""${r.name}":${r.stealPct}%.1f""")
      .mkString("{", ",", "}")
    // iowait map beside it (r17 ADVICE item 1): separates writeback /
    // page-cache pollution from hypervisor steal — e.g. a pass run while
    // a 20 GB scale corpus is still flushing reads high iowait, ~0 steal
    val iowaitJson = results.map(r => f""""${r.name}":${r.iowaitPct}%.1f""")
      .mkString("{", ",", "}")
    // ProcStat's contract: a missing sample must stay visibly distinct
    // from a measured-clean 0.0 — when NO query produced a sample, the
    // headline max is the -1 sentinel, not a bogus "clean" zero (r17
    // ADVICE item 2; same below for steal via sampledSteal)
    val iowaitSamples = results.map(_.iowaitPct).filter(_ >= 0)
    val iowaitMax =
      if (iowaitSamples.isEmpty) -1.0 else iowaitSamples.max
    // failed queries (-1 sentinel) are excluded from the headline total —
    // summing the sentinel would report a phantom speedup exactly when
    // queries break; they remain visible as -1 in the per-query map
    val total = results.map(_.sec).filter(_ >= 0).sum
    val gateJson = f""","load_gate":{"threshold":$maxLoad%.1f,"initial":$initialLoad%.2f,"at_start":$loadAvg%.2f,"waited_sec":$waitedSec,"passed":$gatePassed,"during_max":$loadMax%.2f,"during_threshold":$duringMax%.1f,"steal_pct_max":$stealMaxRep%.1f,"steal_threshold":$maxStealPct%.1f,"iowait_pct_max":$iowaitMax%.1f,"during_clean":$duringClean,"attempts":$attempt}"""
    val oracleStats = oracleTimes(sfDir).map { times =>
      val matched = results.filter(r => r.sec >= 0 && times.contains(r.name))
      val oq = matched.map(r => s"\"" + r.name + "\":" + times(r.name))
        .mkString("{", ",", "}")
      val oTotal = matched.map(r => times(r.name)).sum
      val mTotal = matched.map(_.sec).sum
      val ratio = if (oTotal > 0) mTotal / oTotal else -1.0
      (oq, oTotal, ratio)
    }
    val oracleJson = oracleStats match {
      case Some((oq, oTotal, ratio)) =>
        f""","oracle":$oq,"oracle_total":$oTotal%.3f,"vs_oracle":$ratio%.2f"""
      case None => ""
    }
    val line = s"""{"metric":"total","value":$total,"unit":"sec","sf":"$sfDir","load_avg":$loadAvg,"runs_per_query":$runs$gateJson$oracleJson,"shuffle_mb":$shJson,"steal_pct":$stealJson,"iowait_pct":$iowaitJson,"queries":$qs}"""
    // The DRIVER keeps only the last ~2 kB of stdout and tries to parse a
    // JSON line out of it. The full line above is ~11 kB — the per-query
    // NAME-keyed map alone can never fit (139 names are 2.2 kB before a
    // single value) — so r5–r10 driver artifacts were all truncated
    // mid-map. What stdout gets instead is a COMPLETE compact line
    // (~1.3 kB, verified against the 2 kB window): headline scalars,
    // the load gate verdict, vs_oracle, and every per-query time as a
    // values ARRAY in query-NAME order ("q_order":"name_asc" — the name
    // list is `SparkEntry.queries.keys.toSeq.sorted`, reconstructible
    // from Queries.scala). The full name-keyed line goes to the durable
    // file copy (the committed ones are evidence/bench/bench_r{N}_full.json).
    val qv = results.map(r => if (r.sec < 0) "-1" else f"${r.sec}%.3f")
      .mkString("[", ",", "]")
    val compactOracle = oracleStats match {
      case Some((_, oTotal, ratio)) =>
        f""","oracle_total":$oTotal%.3f,"vs_oracle":$ratio%.2f"""
      case None => ""
    }
    // `qv` aligns to the SELECTED set: when SPARK_GRAFT_ONLY subsets the
    // run, reconstructing against the full sorted name list would silently
    // misattribute every time — so a filtered run stamps q_filter with the
    // selected names and a consumer must join on THOSE (r11 ADVICE).
    val filterJson =
      if (only.isEmpty && skip.isEmpty) ""
      else results.map(r => "\"" + r.name + "\"")
        .mkString(""","q_filter":[""", ",", "]")
    // during_max rides the compact line too: the r14 verdict leaned on a
    // load figure the committed artifact could not substantiate (ADVICE r14)
    // `qn` beside `qv` (r18 VERDICT item 2): the driver could never
    // reconstruct the positional array against Queries.scala, so PERF
    // per_query/geomean stayed empty r15–r18. Additions-only: every
    // pre-existing field keeps its name and position.
    val qn = results.map(r => "\"" + r.name + "\"").mkString("[", ",", "]")
    val compact = f"""{"metric":"total","format":"compact","value":$total%.3f,"unit":"sec","sf":"$sfDir","n_queries":${results.size},"load_gate_passed":$gatePassed,"during_max":$loadMax%.2f,"steal_pct_max":$stealMaxRep%.1f,"during_clean":$duringClean$compactOracle$filterJson,"q_order":"name_asc","qn":$qn,"qv":$qv}"""
    println(compact)
    // durable copy: the full artifact survives whole in a file regardless
    // of the driver's stdout capture window.
    val outFile = sys.env.getOrElse("SPARK_GRAFT_BENCH_OUT", "bench_out.json")
    java.nio.file.Files.write(java.nio.file.Paths.get(outFile),
      (line + "\n").getBytes("UTF-8"))
    val stagesFile = outFile.stripSuffix(".json") + "_stages.jsonl"
    java.nio.file.Files.write(java.nio.file.Paths.get(stagesFile),
      results.flatMap(_.stages).map(_.json + "\n").mkString.getBytes("UTF-8"))
    spark.stop()
  }

  /** Per-query DuckDB seconds recorded by scripts/oracle_bench.py, if a
    * times file for this SF is committed. */
  private def oracleTimes(sfDir: String): Option[Map[String, Double]] = {
    val sfName = new java.io.File(sfDir).getName
    val f = new java.io.File(s"scripts/oracle_times_$sfName.json")
    if (!f.isFile) return None
    val m = parseOracleTimes(
      new String(java.nio.file.Files.readAllBytes(f.toPath), "UTF-8"))
    if (m.isEmpty) None else Some(m)
  }

  /** The `"name": seconds` pairs of a times file's `"times"` object — the
    * `_meta` block's numeric fields (`runs`, `threads`, `max_pct`, …) are
    * not query times. Hand-rolled: the file is machine-written by
    * `json.dump`, and `times` holds flat numbers only, so it ends at its
    * first `}`. */
  private[graft] def parseOracleTimes(text: String): Map[String, Double] = {
    val times = """"times"\s*:\s*\{([^}]*)\}""".r
    val entry = """"([^"]+)"\s*:\s*(-?[0-9.]+(?:[eE][-+]?[0-9]+)?)""".r
    times.findFirstMatchIn(text).toSeq.flatMap { t =>
      entry.findAllMatchIn(t.group(1)).map(x => x.group(1) -> x.group(2).toDouble)
    }.toMap
  }
}
