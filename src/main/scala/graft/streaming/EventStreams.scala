package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}
import graft.ops.StatePipeline

/** Structured Streaming surface (SURVEY §2.9).
  *
  * The reference is a scheduled micro-batch (cron + state file carried
  * between runs, `update.yml:40-47`); these operators are its streaming
  * re-expression plus the general windowed surface the engine must offer.
  * Everything is written against unbounded DataFrames: the same code runs
  * `readStream` (with watermark-bounded state) and plain batch frames.
  */
object EventStreams {

  /** Tumbling-window counts/sums per event type, watermarked so state is
    * bounded (late events beyond `lateness` are dropped). */
  def tumblingAgg(events: DataFrame, window_ : String = "1 hour",
      lateness: String = "30 minutes"): DataFrame =
    events
      .withWatermark("ts", lateness)
      .groupBy(window(col("ts"), window_), col("event_type"))
      .agg(count(lit(1)).as("n"), sum("value").as("sum_v"))
      .select(col("window.start").as("w_start"), col("event_type"),
        col("n"), col("sum_v"))

  /** Sliding-window moving aggregate. */
  def slidingAgg(events: DataFrame, window_ : String = "1 hour",
      slide: String = "15 minutes", lateness: String = "30 minutes"): DataFrame =
    events
      .withWatermark("ts", lateness)
      .groupBy(window(col("ts"), window_, slide), col("event_type"))
      .agg(count(lit(1)).as("n"))
      .select(col("window.start").as("w_start"), col("window.end").as("w_end"),
        col("event_type"), col("n"))

  /** Session windows per user (gap-based), the streaming analog of
    * sessionization. */
  def sessionAgg(events: DataFrame, gap: String = "10 minutes",
      lateness: String = "30 minutes"): DataFrame =
    events
      .withWatermark("ts", lateness)
      .groupBy(session_window(col("ts"), gap), col("user_id"))
      .agg(count(lit(1)).as("n_events"), sum("value").as("sum_v"))
      .select(col("session_window.start").as("s_start"),
        col("session_window.end").as("s_end"), col("user_id"),
        col("n_events"), col("sum_v"))

  /** Streaming dedupe by key within the watermark horizon — the
    * `dropDuplicates`-with-state shape of the reference's
    * sorteo/fecha/sha change detection (`pipeline.py:264-285`).
    *
    * Uses `dropDuplicatesWithinWatermark`, NOT plain `dropDuplicates`:
    * with the event-time column absent from the key subset, plain
    * `dropDuplicates` never evicts its state (Spark only applies the
    * watermark to dedup state when the watermark column is part of the
    * keys) — an unbounded-state leak on an unbounded stream. The
    * WithinWatermark variant evicts each key once the watermark passes
    * its first-seen event time + `lateness`, so state is bounded by the
    * key arrival rate × the lateness horizon; a key recurring after the
    * horizon is (by design) emitted again. */
  def dedupe(events: DataFrame, lateness: String = "30 minutes"): DataFrame =
    events.withWatermark("ts", lateness)
      .dropDuplicatesWithinWatermark("user_id", "event_type")

  /** Streaming curation: the batch curation chain
    * ([[graft.ops.TextAnalysis.curate]]: quality → language → content
    * dedupe) over an unbounded document stream (doc_id, text, ts).
    *
    * Quality and language scoring are pure per-row expressions — no
    * state, arbitrarily parallel. Only the content-dedupe step carries
    * state: `dropDuplicatesWithinWatermark` on the canonical content
    * fingerprint, so state is bounded by (survivor arrival rate ×
    * `lateness`), never by corpus size. A duplicate arriving after the
    * horizon re-admits by design — on an unbounded stream the
    * alternative is unbounded state; cross-horizon dedup belongs to the
    * incremental batch loop ([[graft.ops.IncrementalDedup]]), which this
    * stage feeds. Survivors keep their audit features
    * (pred_lang, n_tokens). */
  def curateStream(docs: DataFrame, lateness: String = "30 minutes",
      minTokens: Int = 20, maxStopRatio: Double = 0.15,
      maxPunctRatio: Double = 0.2,
      langs: Seq[String] = Seq("en", "es")): DataFrame = {
    import graft.ops.TextAnalysis
    val scored = TextAnalysis.langId(TextAnalysis.qualityFeatures(docs))
      .filter(col("n_tokens") >= minTokens &&
        col("stop_ratio") <= maxStopRatio &&
        col("punct_ratio") <= maxPunctRatio &&
        col("pred_lang").isin(langs: _*))
      .withColumn("fp", TextAnalysis.fingerprint(col("text")))
    scored.withWatermark("ts", lateness)
      .dropDuplicatesWithinWatermark("fp")
      .select(col("doc_id"), col("ts"), col("pred_lang"), col("n_tokens"))
  }

  /** Stream-stream interval join: pair each left event with right-stream
    * events for the same user arriving within `within` AFTER it.
    *
    * Both sides carry watermarks, so the join state is bounded: a left
    * row is held only until `l_ts + within` passes the right watermark,
    * then evicted — no unbounded buffering at any scale. The time bound
    * must live in the join condition (an equi-join alone would force
    * Spark to keep all history). Output: user_id, l_type/l_ts, r_type/
    * r_ts, lag_sec. */
  def intervalJoin(left: DataFrame, right: DataFrame,
      within: String = "15 minutes", lateness: String = "30 minutes"): DataFrame = {
    val l = left.select(col("user_id"), col("ts").as("l_ts"),
      col("event_type").as("l_type")).withWatermark("l_ts", lateness)
    val r = right.select(col("user_id").as("r_user_id"), col("ts").as("r_ts"),
      col("event_type").as("r_type")).withWatermark("r_ts", lateness)
    l.join(r, expr(
        s"user_id = r_user_id AND r_ts > l_ts AND r_ts <= l_ts + INTERVAL $within"))
      .select(col("user_id"), col("l_type"), col("l_ts"),
        col("r_type"), col("r_ts"),
        // subtract at full timestamp precision, THEN floor — flooring each
        // side first (unix_timestamp) mis-reports sub-second lags by ±1s
        floor(col("r_ts").cast("double") - col("l_ts").cast("double"))
          .cast("long").as("lag_sec"))
  }

  /** Stream-static enrichment: join each arriving event against a static
    * (batch) dimension. The static side is broadcast — no streaming
    * state at all, and the dimension is re-resolved per micro-batch, so
    * a dimension refresh (e.g. an updated user table) is picked up
    * without restarting the query. */
  def enrich(stream: DataFrame, dim: DataFrame, key: String): DataFrame =
    stream.join(broadcast(dim), Seq(key), "left")

  /** One pozo snapshot arriving on the stream. */
  case class PozoUpdate(sorteo: Long, fecha: String, sha256: String,
      montos: Map[String, Long], ts: java.sql.Timestamp)
  /** Kept state per (sorteo, fecha): last content hash + amounts. */
  case class PozoState(sha256: String, montos: Map[String, Long])
  /** Emitted decision per update (reference decision rule, streaming form). */
  case class PozoDecision(sorteo: Long, fecha: String, status: String,
      changed: Boolean)

  /** Split-sink router for `foreachBatch` (reference quarantine path,
    * `pipeline.py:443-451` / `publish.py:131-133`): each micro-batch is
    * cached once and routed — publish decisions to the canonical sink,
    * skips/quarantines to the parking sink. */
  def routedBatchWriter(
      onPublish: DataFrame => Unit,
      onQuarantine: DataFrame => Unit): (Dataset[PozoDecision], Long) => Unit =
    (batch, _) => {
      val df = batch.toDF().cache()
      try {
        onPublish(df.filter(col("status") === "publish"))
        onQuarantine(df.filter(col("status") =!= "publish"))
      } finally df.unpersist()
    }

  /** foreachBatch sink running the incremental NEAR-dedup loop per
    * micro-batch: each batch checks against the persisted LSH band
    * state ([[graft.ops.IncrementalDedup.ingestNear]]) and accepted
    * docs flow to `onAccepted`. This is the streaming face of the
    * reference's cron-batch pattern (scheduled runs + state carried
    * between them, `update.yml:40-47`): the dedup state lives in the
    * crash-safe StateTable, NOT in Spark's checkpoint — so it survives
    * query restarts, is shared with batch ingests, and is unbounded by
    * watermarks (cross-horizon dedup, which `curateStream` alone can't
    * give). Micro-batch boundaries are the consistency unit: a batch
    * that fails re-runs against the pre-batch state version. */
  def nearDedupSink(stateRoot: String,
      onAccepted: DataFrame => Unit): (DataFrame, Long) => Unit =
    (batch, _) => {
      val spark = batch.sparkSession
      val (accepted, _) =
        graft.ops.IncrementalDedup.ingestNear(spark, stateRoot, batch)
      onAccepted(accepted)
    }

  /** Streaming SEMANTIC near-dedup over an embedding stream: foreachBatch
    * sink around [[graft.ops.IncrementalDedup.ingestSemantic]] — same
    * replay-idempotence contract as [[nearDedupSink]] (a batch re-run
    * after a crash between state commit and downstream effect re-accepts
    * identically; cells are frozen after first-batch training). */
  def semanticDedupSink(stateRoot: String, tau: Double = 0.25,
      nCells: Int = 16,
      onAccepted: DataFrame => Unit): (DataFrame, Long) => Unit =
    (batch, _) => {
      val spark = batch.sparkSession
      val (accepted, _) = graft.ops.IncrementalDedup.ingestSemantic(
        spark, stateRoot, batch, tau, nCells)
      onAccepted(accepted)
    }

  /** Trending terms over a document stream: tumbling-window token
    * counts, watermarked so window state closes and drops. Emits one
    * (w_start, term, n) row per term per CLOSED window (append mode);
    * rank inside [[trendingSink]] — a second stateful rank in the same
    * stream would stack aggregations, and closed windows are exactly the
    * batch granularity foreachBatch hands us anyway. Per-window state is
    * O(active vocab); at 100 TB cap the explode with a length filter or
    * swap the exact count for a sketch before the shuffle. */
  def trendingTerms(docs: DataFrame, textCol: String = "text",
      window_ : String = "1 hour", lateness: String = "30 minutes"): DataFrame =
    docs.withWatermark("ts", lateness)
      .select(col("ts"),
        explode(graft.functions.WsSplitExpr.wsSplit(trim(lower(col(textCol))))).as("term"))
      .groupBy(window(col("ts"), window_), col("term"))
      .agg(count(lit(1)).as("n"))
      .select(col("window.start").as("w_start"), col("term"), col("n"))

  /** Per-window top-k over [[trendingTerms]] output, as a foreachBatch
    * sink: each closed window's counts arrive complete in one batch;
    * [[graft.plans.GroupedTopK]] prunes to k per window pre-shuffle. */
  def trendingSink(k: Int, onTop: DataFrame => Unit): (DataFrame, Long) => Unit =
    (batch, _) =>
      if (!batch.isEmpty)
        onTop(graft.plans.GroupedTopK.perKeys(batch, Seq("w_start"),
          Seq("n" -> false, "term" -> true), k))

  /** Streaming corpus statistics: foreachBatch around
    * [[graft.ops.IncrementalStats.update]], keyed by the STREAM's batch
    * id — the exactly-once marker and Structured Streaming's replay
    * unit are then the same thing, so a foreachBatch retry after a sink
    * crash cannot double-count (the marker for that batch id is either
    * committed with the stats or absent with them). */
  def corpusStatsSink(stateRoot: String,
      onStats: DataFrame => Unit): (DataFrame, Long) => Unit =
    (batch, id) => onStats(
      graft.ops.IncrementalStats.update(batch.sparkSession, stateRoot,
        batch, id))

  /** Streaming distribution-drift monitor: PSI of each micro-batch
    * against a FROZEN reference histogram ([[graft.ops.Drift]] — the
    * batch-side gate, streamed). The reference collapses to O(bins)
    * counts ONCE at sink construction; per batch only the batch's own
    * histogram is computed (one map-side-combined aggregation), so the
    * monitor's cost is independent of reference size. The report row
    * carries (batch_id, psi, alarm, n_cur); `onReport` receives it even
    * when quiet — an absent report and a quiet report must be
    * distinguishable downstream. */
  def driftMonitorSink(ref: DataFrame, valueCol: String,
      lo: Double, hi: Double, bins: Int = 10, threshold: Double = 0.25,
      onReport: DataFrame => Unit): (DataFrame, Long) => Unit = {
    val refHist = graft.ops.Drift
      .hist(ref, valueCol, lo, hi, bins, "n_ref")
      .collect().map(r => (r.getAs[Long]("bin"), r.getAs[Long]("n_ref")))
      .toSeq
    (batch, id) => {
      val spark = batch.sparkSession
      import spark.implicits._
      val refDf = refHist.toDF("bin", "n_ref")
      val curHist = graft.ops.Drift.hist(batch, valueCol, lo, hi, bins, "n_cur")
      val report = graft.ops.Drift.psiFromHists(refDf, curHist, bins)
        .agg(first("psi").as("psi"), sum("n_cur").as("n_cur"))
        .select(lit(id).as("batch_id"), col("psi"),
          (col("psi") > threshold).as("alarm"), col("n_cur"))
      onReport(report)
    }
  }

  /** The reference's run-over-run change detection as an arbitrary-stateful
    * stream: key = (sorteo, fecha); unchanged ([[StatePipeline.sameContent]]:
    * same sha or same amounts) → "skip", else → "publish" and state update
    * (`flatMapGroupsWithState`, SURVEY §1.1 state-record row). */
  def pozoChangeDetect(updates: Dataset[PozoUpdate]): Dataset[PozoDecision] = {
    import updates.sparkSession.implicits._
    updates
      .groupByKey(u => (u.sorteo, u.fecha))
      .flatMapGroupsWithState[PozoState, PozoDecision](
        OutputMode.Append(), GroupStateTimeout.NoTimeout()) {
        case ((sorteo, fecha), rows, state: GroupState[PozoState]) =>
          // Deterministic replay order regardless of partition arrival.
          val ordered = rows.toSeq.sortBy(_.ts.getTime)
          val out = scala.collection.mutable.ListBuffer[PozoDecision]()
          var cur = state.getOption
          for (u <- ordered) {
            val unchanged = cur.exists(s => StatePipeline.sameContent(
              Option(s.sha256), s.montos, Option(u.sha256), u.montos))
            out += PozoDecision(sorteo, fecha,
              if (unchanged) "skip" else "publish", !unchanged)
            cur = Some(PozoState(u.sha256, u.montos))
          }
          cur.foreach(state.update)
          out.iterator
      }
  }
}
