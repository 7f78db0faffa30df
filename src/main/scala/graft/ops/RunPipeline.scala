package graft.ops

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path, Paths, StandardCopyOption}
import org.apache.spark.sql.{Encoders, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StringType

import graft.Model._
import graft.sources.PozoSource

/** EP1 — the ingest pipeline (reference `pipeline.py:352-528`, traced in
  * SURVEY §3).
  *
  * Spark-first split: fetch is driver-orchestrated (2 stateful sources —
  * the reference is the same); the consensus and the single-record
  * control-plane artifacts (raw/normalized/state/report/summary JSONL) are
  * Spark projections over local relations, which the optimizer folds at
  * plan time (`ConvertToLocalRelation`), so a cycle runs no Spark job, in
  * three plans:
  *  1. [[Consensus.mergeAll]] over the collected payloads, and each
  *     payload's raw line;
  *  2. the state read ([[loadState]]);
  *  3. after the change detection and the decision, the normalized/state,
  *     report and summary lines.
  * Each plan is a [[Prepared]]: analysed once per session and conf, then
  * each cycle binds its own rows into it, so a warm cycle runs no analyzer
  * rule either. Only a session that runs more than one cycle gains: the
  * first cycle analyses as a per-cycle build would, and `graft.Main run`
  * runs one cycle per JVM. Each plan's calls run one at a time across the
  * JVM's sessions (see [[Prepared]]).
  * Every line is Spark's own JSON encoding (`to_json`, byte-identical to
  * `Dataset.toJSON`), written atomically (temp+rename — the reference
  * truncate-writes, `pipeline.py:437`). Side-effect ordering preserved
  * from the reference: raw artifacts → read state → write normalized+state
  * (unconditionally, whatever the decision) → report/summary → notify.
  * The decision policy (derived scalars, change detection, the decision
  * rule) is [[StatePipeline]]'s, pure driver-side functions, so deciding
  * before the normalized write changes no side effect.
  */
object RunPipeline {

  case class Config(
      requestedSources: Seq[String] = Seq("pozos"),
      timeout: Int = 30,
      retries: Int = 3,
      failFast: Boolean = false,
      mismatchThreshold: Double = 0.25,
      forcePublish: Boolean = false,
      workDir: String,
      runId: String = java.util.UUID.randomUUID().toString,
      now: () => String = () => java.time.Instant.now().toString)

  case class Result(summary: Summary, report: Report, record: NormalizedRecord,
      collected: Seq[SourcePayload])

  /** Validate + dedupe the requested source list (reference
    * `pipeline.py:34-46`): `all`/`pozos` collapse to pozos; unknown → error. */
  def normalizeSources(requested: Seq[String], known: Set[String]): Seq[String] = {
    val mapped = requested.map(_.trim.toLowerCase).map {
      case "all" => "pozos"
      case s => s
    }
    mapped.foreach { s =>
      if (s != "pozos" && !known.contains(s))
        throw new graft.ConfigError(s"Unknown source: $s", Map("source" -> s))
    }
    mapped.distinct
  }

  /** One cycle, its jobs and spans under the correlation id `cfg.runId`. */
  def run(spark: SparkSession, sources: Seq[PozoSource], cfg: Config,
      log: Observability.LogStream = new Observability.BufferingLogStream): Result =
    Observability.labelled(spark, cfg.runId)(cycle(spark, sources, cfg, log))

  private def cycle(spark: SparkSession, sources: Seq[PozoSource], cfg: Config,
      log: Observability.LogStream): Result = {
    log.emit(Observability.Event("pipeline_start", cfg.now(), cfg.runId,
      Map("sources" -> cfg.requestedSources.mkString(","))))

    // 1. Collect payloads; per-source failure = warn + continue unless
    //    fail-fast (reference `pipeline.py:102-132`).
    val collected = Observability.span(spark, log, "ingestion_orchestration",
        now = cfg.now) {
      sources.sortBy(_.priority).flatMap { src =>
        try Some(src.fetch())
        catch {
          case e: Exception if !cfg.failFast =>
            System.err.println(s"[pipeline] source ${src.name} failed: ${e.getMessage}")
            log.emit(Observability.Event("source_failed", cfg.now(), cfg.runId,
              Map("source" -> src.name, "error" -> String.valueOf(e.getMessage))))
            None
        }
      }
    }
    Observability.metric(spark, log, "sources_collected", collected.size, now = cfg.now)
    if (collected.isEmpty)
      throw new RuntimeException(
        s"No sources returned data for ${cfg.requestedSources.mkString(",")}")

    // 2-3. Consensus merge (SURVEY §2.4) and the raw lines: plan 1.
    val (mergeRows, rawLines) = Observability.span(spark, log, "consensus_merge",
        now = cfg.now) {
      val r = consensusPass(spark, Seq(Tuple1(collected)))(_.collect().head)
      (r.getSeq[Row](0).toSeq, r.getSeq[String](1).toSeq)
    }
    val resolved = mergeRows.map(r =>
      r.getAs[String]("categoria") -> r.getAs[Long]("valor")).toMap

    val mismatches = mergeRows.flatMap { r =>
      val disagreeing = Option(r.getAs[Map[String, scala.collection.Seq[String]]]("disagreeing"))
        .getOrElse(Map.empty).map { case (k, v) => k -> v.toSeq }
      val missing = r.getAs[scala.collection.Seq[String]]("missing_sources").toSeq
      if (disagreeing.nonEmpty || missing.nonEmpty)
        Some(Mismatch(
          categoria = r.getAs[String]("categoria"),
          consensus = Map(r.getAs[Long]("valor").toString ->
            r.getAs[scala.collection.Seq[String]]("winner_sources").toSeq),
          disagreeing = disagreeing,
          max_deviation = if (disagreeing.nonEmpty)
            Some(r.getAs[Double]("max_deviation")) else None,
          missing_sources = missing))
      else None
    }

    // Derived scalars and confidence (reference `pipeline.py:383-404`).
    val expected = cfg.requestedSources.map {
      case "pozos" => sources.size
      case _ => 1
    }.sum
    // one per category with disagreeing values (only those set it)
    val deviations = mismatches.flatMap(_.max_deviation)
    val (mismatchRatio, maxDeviation, confidence) =
      StatePipeline.scalars(resolved.size, deviations, collected.size, expected)

    // 4. Record build (reference `pipeline.py:406-417`): primary = first
    //    collected (lowest priority).
    val primary = collected.head
    val prov = Provenance(PozosProvenance(
      SourceDesc.of(collected.head), collected.tail.map(SourceDesc.of)))
    val record = NormalizedRecord(
      sorteo = primary.sorteo, fecha = primary.fecha,
      fuente = Some(primary.fuente), confidence = confidence,
      premios = Seq.empty, pozos_proximo = resolved, provenance = prov)

    // 5. Raw per-source artifacts (reference `pipeline.py:419-429`):
    //    single-source keeps the requested name; multi-source uses munged
    //    netloc.
    val rawDir = Paths.get(cfg.workDir, "raw")
    Files.createDirectories(rawDir)
    collected.zip(rawLines).foreach { case (p, line) =>
      val fname =
        if (cfg.requestedSources.size == 1 && sources.size == 1)
          cfg.requestedSources.head
        else Option(new java.net.URI(p.fuente).getHost)
          .map(_.replace(".", "_")).getOrElse("source")
      writeAtomic(rawDir.resolve(s"$fname.json"), line + "\n")
    }

    // 6. Previous state: PERMISSIVE JSONL parse tolerating corrupt lines
    //    (reference `pipeline.py:66-79`).
    val statePath = Paths.get(cfg.workDir, "state", "last_run.jsonl")
    val previous = loadState(spark, statePath.toString)

    // 7. Change detection (reference `pipeline.py:257-285`).
    val unchanged = StatePipeline.unchanged(previous, record)

    // 8. Decision (reference `pipeline.py:439-459`).
    val (status, publishFlag, reason) = StatePipeline.decide(
      unchanged, mismatchRatio, maxDeviation, cfg.mismatchThreshold, cfg.forcePublish)

    val generatedAt = cfg.now()
    val decision = Decision(status, confidence, resolved.size.toLong,
      deviations.size.toLong, reason)
    val report = Report(
      RunInfo(cfg.runId, generatedAt, cfg.requestedSources, cfg.timeout,
        cfg.retries, cfg.failFast),
      LastDraw(record.sorteo, record.fecha), decision, mismatches, ApiVersion)
    val summary = Summary(cfg.runId, generatedAt, decision,
      prizes_changed = !unchanged, publish = publishFlag,
      publish_reason = reason, api_version = ApiVersion)

    // 9. Normalized + state written unconditionally (reference
    //    `pipeline.py:436-437`), then the report + summary sinks; the three
    //    lines render in plan 3.
    val Seq(recordJson, reportJson, summaryJson) = artifactLines(spark, record, report, summary)
    writeAtomic(Paths.get(cfg.workDir, "normalized.jsonl"), recordJson)
    writeAtomic(statePath, recordJson)
    writeAtomic(Paths.get(cfg.workDir, "comparison_report.json"), reportJson)
    writeAtomic(Paths.get(cfg.workDir, "run_summary.json"), summaryJson)

    log.emit(Observability.Event("pipeline_end", cfg.now(), cfg.runId,
      Map("decision" -> status, "publish" -> publishFlag.toString,
        "confidence" -> confidence)))
    Observability.metric(spark, log, "mismatched_categories",
      deviations.size, now = cfg.now)
    Result(summary, report, record, collected)
  }

  /** Plan 1: the consensus of `Tuple1(payloads)` and each payload's raw
    * line. */
  private[graft] lazy val consensusPass = new Prepared[Tuple1[Seq[SourcePayload]]](
    Encoders.product,
    _.select(Consensus.mergeAll(col("_1")), transform(col("_1"), p => to_json(p))))

  /** Plan 3: the record, the report and the summary as JSON lines, each
    * byte-identical to `Dataset.toJSON` of its value. */
  private[graft] def artifactLines(spark: SparkSession, record: NormalizedRecord,
      report: Report, summary: Summary): Seq[String] =
    artifactsPass(spark, Seq((record, report, summary)))(
      _.collect().head.toSeq.map(_.toString + "\n"))

  private lazy val artifactsPass = new Prepared[(NormalizedRecord, Report, Summary)](
    Encoders.product, df => df.select(df.columns.toSeq.map(c => to_json(col(c))): _*))

  private lazy val stateEncoder = Encoders.product[NormalizedRecord]

  /** Plan 2: the state lines parsed PERMISSIVE; see [[loadState]]. */
  private lazy val statePass = new Prepared[String](Encoders.STRING, { lines =>
    val corrupt = "_corrupt_record"
    val schema = stateEncoder.schema.add(corrupt, StringType)
    lines
      .select(from_json(col("value"), schema,
        Map("mode" -> "PERMISSIVE", "columnNameOfCorruptRecord" -> corrupt)).as("r"))
      .select("r.*")
      .filter(col(corrupt).isNull && col("provenance.pozos.primary").isNotNull &&
        col("pozos_proximo").isNotNull && col("confidence").isNotNull)
      .drop(corrupt)
  })

  /** PERMISSIVE JSONL state read (reference `pipeline.py:66-79`): lines
    * are read on the driver and parsed by `from_json` over a local
    * relation, so no Spark job runs. Blank lines are skipped; so are
    * corrupt lines and records that lack a required field (`provenance`
    * down to its primary source, `pozos_proximo`, `confidence`) — one
    * record per line, so a top-level JSON array line is corrupt too. */
  def loadState(spark: SparkSession, path: String): Seq[NormalizedRecord] = {
    val file = Paths.get(path)
    if (!Files.exists(file)) return Seq.empty
    val lines = new String(Files.readAllBytes(file), StandardCharsets.UTF_8)
      .split("\r\n|\r|\n").filter(_.trim.nonEmpty).toSeq
    statePass(spark, lines)(_.as(stateEncoder).collect().toSeq)
  }

  private def writeAtomic(path: Path, content: String): Unit = {
    Files.createDirectories(path.getParent)
    val tmp = path.resolveSibling(path.getFileName.toString + ".tmp")
    Files.writeString(tmp, content)
    Files.move(tmp, path, StandardCopyOption.REPLACE_EXISTING,
      StandardCopyOption.ATOMIC_MOVE)
  }
}
