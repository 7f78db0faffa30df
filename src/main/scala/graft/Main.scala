package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions.col
import graft.ops.{Notifiers, Publish, RunPipeline}
import graft.sources._

/** CLI mirroring the reference's entry points (`polla_app/__main__.py`):
  * `run` (EP1 ingest), `publish --dry-run` (EP2), `pozos` (EP3 fetch dump),
  * `health` (EP3 diagnostics). Offline by default: `--fixture-dir` replays
  * HTML fixtures through the same adapter stack the live sources use (the
  * reference's CI never hits the network either).
  *
  * Usage (fetch knobs `--retries N --timeout SEC --only a,b` and
  * `--source-url name=url` apply to run/pozos/health):
  *   run     --work-dir D [--fixture-dir F] [--force-publish] [--fail-fast]
  *           [--mismatch-threshold 0.25]
  *   publish --work-dir D [--dry-run] [--summary run_summary.json]
  *   curate  --input docs.parquet --output D [--min-tokens 20] [--langs en,es]
  *   ingest  --input docs.parquet --state S --output D [--near]
  *   compact --path dir [--target-file-mb 128] [--sort c1,c2]
  *   pozos   [--fixture-dir F | --live]
  *   health  [--fixture-dir F | --live]
  */
object Main {

  private def arg(args: Array[String], name: String): Option[String] =
    args.sliding(2).collectFirst { case Array(`name`, v) => v }
  private def flag(args: Array[String], name: String): Boolean =
    args.contains(name)

  private def session(): SparkSession = Session.build(Session.cli())

  private val OpenlotoUrl = "https://www.openloto.cl/pozo-del-loto.html"
  private val PollaUrl = "https://www.polla.cl/es/"
  private val Ua = "PollaSparkBot/1.0 (+contact@example.com)"

  /** Source-URL overrides (reference `__main__.py:179-197` +
    * `pipeline.py:104-108`): repeated `--source-url name=url` plus the
    * `POLLA_ALT_SOURCE_URLS` env (comma-separated name=url pairs); value
    * `skip` drops the source entirely. CLI flags win over env. */
  def resolveOverrides(args: Array[String],
      env: Map[String, String] = sys.env): Map[String, String] = {
    val fromEnv = env.get("POLLA_ALT_SOURCE_URLS").toSeq
      .flatMap(_.split(",")).map(_.trim).filter(_.contains("="))
      .map { kv => val Array(k, v) = kv.split("=", 2); k.trim -> v.trim }
    val fromCli = args.sliding(2).collect {
      case Array("--source-url", kv) if kv.contains("=") =>
        val Array(k, v) = kv.split("=", 2); k.trim -> v.trim
    }.toSeq
    (fromEnv ++ fromCli).toMap
  }

  /** Apply overrides to (name, url) pairs: `skip` removes, else replaces. */
  def applyOverrides(base: Seq[(String, String)],
      overrides: Map[String, String]): Seq[(String, String)] =
    base.flatMap { case (name, url) =>
      overrides.get(name) match {
        case Some("skip") => None
        case Some(u) => Some(name -> u)
        case None => Some(name -> url)
      }
    }

  /** Build the source registry. With a fixture dir, pages come from
    * `<dir>/<name>/page.html` (the golden-fixture convention, FIXTURES A1);
    * without one, fetching requires real transport — not wired in this
    * offline build, so sources fail gracefully into degraded mode. */
  private def sources(fixtureDir: Option[String],
      overrides: Map[String, String] = Map.empty,
      retries: Int = 3, timeoutSec: Int = 30,
      only: Option[Set[String]] = None, live: Boolean = false): Seq[PozoSource] = {
    val transport: HttpTransport = fixtureDir match {
      case Some(dir) =>
        val load = (n: String) => {
          val p = java.nio.file.Paths.get(dir, n, "page.html")
          if (java.nio.file.Files.exists(p)) Some(java.nio.file.Files.readString(p)) else None
        }
        new FixtureTransport(Map(
          OpenlotoUrl -> load("openloto").getOrElse(""),
          PollaUrl -> load("polla").getOrElse("")).filter(_._2.nonEmpty))
      case None if live =>
        // --live: real JDK HttpClient transport. Sandbox-inert in this
        // build environment (zero egress ⇒ fails fast with NetworkError);
        // never taken by CI, which always passes --fixture-dir.
        new JdkHttpTransport()
      case None =>
        (url: String, ua: String, t: Int) =>
          throw new NetworkError(
            "no live transport selected; use --fixture-dir or --live",
            Map("url" -> url))
    }
    val fetcher = new Fetcher(transport, retries = retries,
      timeoutMs = timeoutSec * 1000,
      rateLimiter = Some(new HostRateLimiter(500, System.currentTimeMillis, Thread.sleep)))
    val urls = applyOverrides(
      Seq("openloto" -> OpenlotoUrl, "polla" -> PollaUrl), overrides)
      .filter { case (name, _) => only.forall(_.contains(name)) }
    urls.zipWithIndex.map { case ((name, url), prio) =>
      // polla.cl is an SPA: its adapter is the DOM-selector path
      // (reference get_pozo_polla); openloto stays text-flatten
      // (reference _fetch_pozos).
      if (name == "polla") new DomPozoSource(name, prio, url, Ua, fetcher)
      else new HtmlPozoSource(name, prio, url, Ua, fetcher,
        allowTotal = name != "openloto",
        absentAsZero = name == "openloto")
    }
  }

  /** Tolerant run-summary load (`__main__.py:269-275`): a missing file
    * is fine — publish proceeds on the comparison report alone; a
    * present-but-invalid file still errors (only FileNotFound is
    * tolerated there). */
  def loadSummaryDecision(p: String): Option[String] = {
    val path = java.nio.file.Paths.get(p)
    if (!java.nio.file.Files.exists(path)) None
    else {
      val node = new com.fasterxml.jackson.databind.ObjectMapper()
        .readTree(java.nio.file.Files.readString(path))
      Option(node.at("/decision/status").asText(null))
    }
  }

  /** The fetch knobs shared by run/pozos/health (`__main__.py:80-81,160-165`):
    * (retries, timeout seconds). */
  private def fetchKnobs(rest: Array[String]): (Int, Int) = {
    val retries = arg(rest, "--retries").map(_.toInt).getOrElse(3)
    val timeoutSec = arg(rest, "--timeout").map(_.toInt).getOrElse(30)
    if (retries < 1) throw new ConfigError("--retries must be >= 1")
    if (timeoutSec < 1) throw new ConfigError("--timeout must be >= 1")
    (retries, timeoutSec)
  }

  /** The `run` command's pipeline config from its arguments. */
  def runConfig(rest: Array[String]): RunPipeline.Config = {
    val threshold = arg(rest, "--mismatch-threshold").map(_.toDouble).getOrElse(0.25)
    if (threshold < 0) throw new ConfigError("--mismatch-threshold must be >= 0")
    val (retries, timeoutSec) = fetchKnobs(rest)
    RunPipeline.Config(
      workDir = arg(rest, "--work-dir").getOrElse(
        throw new ConfigError("--work-dir is required")),
      timeout = timeoutSec,
      retries = retries,
      mismatchThreshold = threshold,
      forcePublish = flag(rest, "--force-publish"),
      failFast = flag(rest, "--fail-fast"))
  }

  def main(args: Array[String]): Unit = {
    val cmd = args.headOption.getOrElse("help")
    val rest = args.drop(1)
    val fixtureDir = arg(rest, "--fixture-dir")
    val overrides = resolveOverrides(rest)
    val (retries, timeoutSec) = fetchKnobs(rest)
    val only = arg(rest, "--only").map(_.split(",").map(_.trim).filter(_.nonEmpty).toSet)
    // a typo'd --only would otherwise silently yield zero sources and a
    // "successful" run that did nothing (normalizeSources convention)
    only.foreach { names =>
      val unknown = names -- Set("openloto", "polla")
      if (unknown.nonEmpty)
        throw new ConfigError(s"unknown --only source(s): ${unknown.mkString(",")}")
    }
    // pozos-only by design: the flag is accepted but deprecated
    // (`__main__.py:167-174`)
    if (flag(rest, "--no-include-pozos"))
      System.err.println("DEPRECATION WARNING: --no-include-pozos is deprecated and " +
        "will be removed. This tool is now pozos-only by design.")
    // --live selects the real JDK HttpClient transport (sandbox-inert
    // here: zero egress makes live fetches fail fast; CI always replays
    // fixtures). --fixture-dir wins if both are given.
    val live = flag(rest, "--live")
    def registry() = sources(fixtureDir, overrides, retries, timeoutSec, only, live)
    cmd match {
      case "run" =>
        val cfg = runConfig(rest)
        val spark = session()
        val log = new graft.ops.Observability.JsonlLogStream(
          java.nio.file.Paths.get(cfg.workDir, "logs", "pipeline.jsonl"))
        val result = try RunPipeline.run(spark, registry(), cfg, log)
          finally log.close()
        println(s"decision=${result.summary.decision.status} " +
          s"publish=${result.summary.publish} reason=${result.summary.publish_reason} " +
          s"confidence=${result.summary.decision.confidence} " +
          s"categories=${result.summary.decision.total_categories}")
        spark.stop()

      case "publish" =>
        val spark = session()
        import spark.implicits._
        val workDir = arg(rest, "--work-dir").getOrElse(
          throw new ConfigError("--work-dir is required"))
        arg(rest, "--summary").flatMap(loadSummaryDecision)
          .foreach(d => System.err.println(s"[publish] run summary decision=$d"))
        val records = RunPipeline.loadState(spark, s"$workDir/normalized.jsonl")
        if (records.isEmpty) throw new PublishError("no normalized records")
        if (records.length > 1)
          System.err.println(s"[publish] ${records.length} records; using first")
        val rows = Publish.recordToRows(spark.createDataset(records.take(1)))
        val sheetDir = arg(rest, "--sheet-dir").getOrElse(s"$workDir/sheets")
        if (flag(rest, "--dry-run")) {
          val current = graft.sources.SheetBackend.readRows(sheetDir, "canonical")
          println(Publish.dryRunDiff(current, rows))
        } else {
          // truncate+overwrite through the sheet connector (format("sheet")),
          // which writes the rows' string cells from the driver
          rows.write.format("sheet")
            .option("path", sheetDir).option("worksheet", "canonical")
            .mode("append").save()
          // the rows that landed, read back past the header on the driver:
          // no second Spark job just to count them
          val written = graft.sources.SheetBackend.readRows(sheetDir, "canonical").size - 1
          println(s"updated_rows=$written")
        }
        spark.stop()

      case "curate" =>
        // training-data curation over a documents parquet: writes the
        // kept docs and a full per-doc audit (drop_reason) — the batch
        // entry point for the TextAnalysis.curate chain
        val in = arg(rest, "--input").getOrElse(
          throw new ConfigError("--input is required (documents parquet dir)"))
        val out = arg(rest, "--output").getOrElse(
          throw new ConfigError("--output is required"))
        val minTokens = arg(rest, "--min-tokens").map(_.toInt).getOrElse(20)
        val langs = arg(rest, "--langs").map(_.split(",").map(_.trim).toSeq)
          .getOrElse(Seq("en", "es"))
        val spark = session()
        val docs = spark.read.parquet(in)
        val audit = graft.ops.TextAnalysis.curate(docs, minTokens = minTokens,
          langs = langs).cache()
        audit.write.mode("overwrite").parquet(s"$out/audit")
        docs.join(audit.filter(col("drop_reason").isNull).select("doc_id"),
            Seq("doc_id"), "left_semi")
          .write.mode("overwrite").parquet(s"$out/kept")
        val byReason = audit.groupBy("drop_reason").count().collect()
          .map(r => s"${Option(r.getString(0)).getOrElse("kept")}=${r.getLong(1)}")
          .sorted.mkString(" ")
        println(s"curate $byReason")
        spark.stop()

      case "ingest" =>
        // continuous-ingest dedup step: check a batch against the hash
        // state, write accepted rows, commit survivors' hashes
        val in = arg(rest, "--input").getOrElse(
          throw new ConfigError("--input is required (documents parquet dir)"))
        val state = arg(rest, "--state").getOrElse(
          throw new ConfigError("--state is required (state table root)"))
        val out = arg(rest, "--output").getOrElse(
          throw new ConfigError("--output is required"))
        val near = flag(rest, "--near")
        val spark = session()
        val batch = spark.read.parquet(in)
        val (accepted, version) =
          if (near) graft.ops.IncrementalDedup.ingestNear(spark, state, batch)
          else graft.ops.IncrementalDedup.ingest(spark, state, batch)
        accepted.write.mode("overwrite").parquet(out)
        println(s"ingest accepted=${accepted.count()} of=${batch.count()} " +
          s"version=$version mode=${if (near) "near" else "exact"}")
        spark.stop()

      case "compact" =>
        val target = arg(rest, "--target-file-mb").map(_.toLong).getOrElse(128L)
        val path = arg(rest, "--path").getOrElse(
          throw new ConfigError("--path is required (parquet dir)"))
        val sortCols = arg(rest, "--sort").map(_.split(",").map(_.trim).toSeq)
          .getOrElse(Nil)
        val spark = session()
        val n = graft.ops.Layout.compact(spark, path,
          targetFileBytes = target * 1024 * 1024, sortCols = sortCols)
        println(s"compact files=$n")
        spark.stop()

      case "pozos" =>
        registry().foreach { s =>
          try {
            val p = s.fetch()
            println(s"${s.name}: sorteo=${p.sorteo.getOrElse("-")} " +
              s"fecha=${p.fecha.getOrElse("-")} montos=${p.montos.toSeq.sortBy(_._1)
                .map { case (k, v) => s"$k=$v" }.mkString(",")}")
          } catch {
            case e: Exception => println(s"${s.name}: ERROR ${e.getMessage}")
          }
        }

      case "health" =>
        var ok = 0; var fail = 0
        registry().foreach { s =>
          val t0 = System.nanoTime()
          try {
            val p = s.fetch()
            // amount sanity range (reference `__main__.py:307-314`)
            val valid = p.montos.values.exists(v => v > 0 && v < 50000000000L)
            if (valid) ok += 1 else fail += 1
            println(f"${s.name}: ${if (valid) "pass" else "fail"} " +
              f"(${(System.nanoTime() - t0) / 1e6}%.0f ms, ${p.montos.size} categories)")
          } catch {
            case e: Exception => fail += 1; println(s"${s.name}: fail (${e.getMessage})")
          }
        }
        val status = if (fail == 0) "pass" else if (ok > 0) "degraded" else "fail"
        println(s"health=$status")
        if (status == "fail") sys.exit(1)

      case other =>
        System.err.println(s"unknown command: $other " +
          "(expected run|publish|curate|ingest|compact|pozos|health)")
        sys.exit(2)
    }
  }
}
