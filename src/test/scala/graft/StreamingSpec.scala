package graft

import java.sql.Timestamp
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import graft.streaming.EventStreams
import graft.streaming.EventStreams.{PozoDecision, PozoUpdate}

/** Streaming operators driven through real `readStream`-style execution
  * (MemoryStream → query → memory sink), not batch shortcuts. */
case class Ev(ts: Timestamp, user_id: Long, event_type: String, value: Double)
case class Doc(ts: Timestamp, doc_id: Long, text: String)
case class Vec(vec_id: Long, embedding: Seq[Double])

class StreamingSpec extends SparkSpec {

  private def ts(min: Int): Timestamp = new Timestamp(1700000000000L + min * 60000L)

  test("tumbling agg over a stream emits finalized windows") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[Ev]
    val q = EventStreams.tumblingAgg(input.toDF(), "10 minutes", "5 minutes")
      .writeStream.format("memory").queryName("tumbling")
      .outputMode("append").start()
    try {
      input.addData(
        Ev(ts(0), 1, "view", 1.0), Ev(ts(1), 1, "view", 2.0),
        Ev(ts(11), 2, "click", 5.0))
      q.processAllAvailable()
      // advance watermark far enough to close the first windows
      input.addData(Ev(ts(60), 3, "view", 1.0))
      q.processAllAvailable()
      val rows = spark.table("tumbling")
        .select("event_type", "n", "sum_v").collect()
        .map(r => (r.getString(0), r.getLong(1), r.getDouble(2))).toSet
      assert(rows.contains(("view", 2L, 3.0)))
      assert(rows.contains(("click", 1L, 5.0)))
    } finally q.stop()
  }

  test("streaming dedupe drops repeats within the watermark horizon") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[Ev]
    val q = EventStreams.dedupe(input.toDF(), "5 minutes")
      .writeStream.format("memory").queryName("dedupe")
      .outputMode("append").start()
    try {
      input.addData(
        Ev(ts(0), 1, "view", 1.0), Ev(ts(1), 1, "view", 9.0),
        Ev(ts(2), 1, "click", 1.0))
      q.processAllAvailable()
      val n = spark.table("dedupe").count()
      assert(n == 2) // (1,view) deduped
    } finally q.stop()
  }

  test("streaming dedupe state is evicted past the watermark (bounded state)") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[Ev]
    val q = EventStreams.dedupe(input.toDF(), "5 minutes")
      .writeStream.format("memory").queryName("dedupe_evict")
      .outputMode("append").start()
    try {
      input.addData(Ev(ts(0), 1, "view", 1.0), Ev(ts(1), 1, "view", 9.0))
      q.processAllAvailable() // (1,view) emitted once, state row created
      // advance the watermark way past ts(0)+5min — the (1,view) state
      // row must be evicted, not held forever
      input.addData(Ev(ts(120), 2, "click", 1.0))
      q.processAllAvailable()
      // the same key AFTER the horizon is a fresh arrival: emitted again —
      // observable proof the dedup state was dropped
      input.addData(Ev(ts(121), 1, "view", 3.0))
      q.processAllAvailable()
      val views = spark.table("dedupe_evict")
        .filter(col("user_id") === 1 && col("event_type") === "view").count()
      assert(views == 2, "key re-emitted after horizon => state was evicted")
      // and the state store itself stays bounded: only the two live keys
      val stateRows = q.lastProgress.stateOperators.map(_.numRowsTotal).sum
      assert(stateRows <= 2, s"state rows not evicted: $stateRows")
    } finally q.stop()
  }

  test("streaming curation: quality/lang rejects dropped, dup within " +
      "horizon dropped, dup past horizon re-admitted") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val good = "fast cars move quickly down long roads while drivers watch " +
      "carefully the traffic signals blinking red during cold winter nights with friends"
    val german = "der schnelle braune fuchs springt über den faulen hund und " +
      "läuft davon ist das nicht schön mit viel energie heute morgen"
    val input = MemoryStream[Doc]
    val q = EventStreams.curateStream(input.toDF(), "5 minutes")
      .writeStream.format("memory").queryName("curated")
      .outputMode("append").start()
    try {
      input.addData(
        Doc(ts(0), 1L, good),
        Doc(ts(0), 2L, "too short"),          // quality reject
        Doc(ts(1), 3L, german),               // language reject
        Doc(ts(2), 4L, good))                 // duplicate within horizon
      q.processAllAvailable()
      val first = spark.table("curated").select("doc_id").as[Long].collect().toSet
      assert(first == Set(1L), s"expected only doc 1, got $first")
      // advance the watermark past the horizon (the advancer must itself
      // survive the filters — rejected rows never reach the watermark
      // node), then repeat the content: fresh arrival — state was
      // evicted, doc re-admitted
      val good2 = "slow trains travel quietly across tall bridges while engineers " +
        "check carefully the signal lights glowing green during warm summer evenings with family"
      input.addData(Doc(ts(120), 9L, good2))
      q.processAllAvailable()
      input.addData(Doc(ts(121), 10L, good))
      q.processAllAvailable()
      val all = spark.table("curated").select("doc_id").as[Long].collect().toSet
      assert(all.contains(10L), "duplicate past the horizon must re-admit")
      val stateRows = q.lastProgress.stateOperators.map(_.numRowsTotal).sum
      assert(stateRows <= 2, s"curation dedup state not bounded: $stateRows")
    } finally q.stop()
  }

  test("near-dedup sink: state persists across micro-batches AND query restarts") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val root = java.nio.file.Files.createTempDirectory("graft-stream-near").toString
    val accepted = scala.collection.mutable.ArrayBuffer[Long]()
    val sink = EventStreams.nearDedupSink(root,
      df => accepted ++= df.select("doc_id").collect().map(_.getLong(0)))
    val base = (1 to 40).map(i => s"w$i").mkString(" ")
    val near = ((1 to 39).map(i => s"w$i") :+ "DIFF").mkString(" ")
    val other = (1 to 40).map(i => s"x$i").mkString(" ")

    val in1 = MemoryStream[Doc]
    val q1 = in1.toDF().select("doc_id", "text").writeStream
      .foreachBatch(sink).outputMode("append").start()
    try {
      in1.addData(Doc(ts(0), 1L, base))
      q1.processAllAvailable()
      in1.addData(Doc(ts(1), 2L, near)) // near-dup of batch-1 doc: dropped
      in1.addData(Doc(ts(1), 3L, other))
      q1.processAllAvailable()
    } finally q1.stop()
    assert(accepted.sorted == Seq(1L, 3L), s"got $accepted")

    // a brand-new query (fresh checkpoint) still sees the dedup state:
    // it lives in the StateTable, not the streaming checkpoint
    val in2 = MemoryStream[Doc]
    val q2 = in2.toDF().select("doc_id", "text").writeStream
      .foreachBatch(sink).outputMode("append").start()
    try {
      in2.addData(Doc(ts(9), 10L, base))   // still known → dropped
      in2.addData(Doc(ts(9), 11L, (1 to 40).map(i => s"y$i").mkString(" ")))
      q2.processAllAvailable()
    } finally q2.stop()
    assert(accepted.sorted == Seq(1L, 3L, 11L), s"restart lost state: $accepted")
  }

  test("near-dedup sink: crashed batch replays exactly-once (no loss, no dup)") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val root = java.nio.file.Files.createTempDirectory("graft-stream-crash").toString
    val ckpt = java.nio.file.Files.createTempDirectory("graft-stream-ckpt").toString
    val accepted = scala.collection.mutable.ArrayBuffer[Long]()
    @volatile var failNext = false
    val sink = EventStreams.nearDedupSink(root, df => {
      val ids = df.select("doc_id").collect().map(_.getLong(0))
      // crash AFTER ingestNear committed the batch's signatures to the
      // StateTable but BEFORE the downstream effect lands — the worst
      // replay window
      if (failNext) { failNext = false; throw new RuntimeException("downstream crash") }
      accepted ++= ids
    })
    val in = MemoryStream[Doc]
    def start() = in.toDF().select("doc_id", "text").writeStream
      .option("checkpointLocation", ckpt)
      .foreachBatch(sink).outputMode("append").start()
    val base = (1 to 40).map(i => s"w$i").mkString(" ")
    val near = ((1 to 39).map(i => s"w$i") :+ "DIFF").mkString(" ")
    val fresh = (1 to 40).map(i => s"x$i").mkString(" ")

    val q1 = start()
    try {
      in.addData(Doc(ts(0), 1L, base))
      q1.processAllAvailable()
      assert(accepted.toSeq == Seq(1L))
      failNext = true
      in.addData(Doc(ts(1), 2L, near), Doc(ts(1), 3L, fresh))
      intercept[Exception] { q1.processAllAvailable() }
    } finally q1.stop()

    // restart from the SAME checkpoint: the uncommitted batch replays.
    // Its accepted docs' signatures are already in the state from the
    // crashed attempt — they must be re-accepted (self-match is replay,
    // not duplication), and the near-dup must still drop.
    val q2 = start()
    try q2.processAllAvailable() finally q2.stop()
    assert(accepted.toSeq == Seq(1L, 3L), s"replay lost or duplicated docs: $accepted")
  }

  test("pozo change detection stream: publish → skip → publish on change") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[PozoUpdate]
    val q = EventStreams.pozoChangeDetect(input.toDS())
      .writeStream.format("memory").queryName("pozo_decisions")
      .outputMode("append").start()
    try {
      input.addData(PozoUpdate(5417L, "2026-04-26", "sha1", Map("Loto" -> 100L), ts(0)))
      q.processAllAvailable()
      input.addData( // same sha → skip
        PozoUpdate(5417L, "2026-04-26", "sha1", Map("Loto" -> 100L), ts(1)))
      q.processAllAvailable()
      input.addData( // sha changed but amounts equal → still skip
        PozoUpdate(5417L, "2026-04-26", "sha2", Map("Loto" -> 100L), ts(2)))
      q.processAllAvailable()
      input.addData( // amounts changed → publish
        PozoUpdate(5417L, "2026-04-26", "sha3", Map("Loto" -> 999L), ts(3)))
      q.processAllAvailable()
      input.addData( // new draw key → publish
        PozoUpdate(5418L, "2026-05-03", "sha3", Map("Loto" -> 999L), ts(4)))
      q.processAllAvailable()
      val decisions = spark.table("pozo_decisions").as[PozoDecision]
        .collect().sortBy(d => (d.sorteo, d.status)).toSeq
      val statuses = decisions.filter(_.sorteo == 5417L).map(_.status).sorted
      assert(statuses == Seq("publish", "publish", "skip", "skip"))
      assert(decisions.filter(_.sorteo == 5418L).map(_.status) == Seq("publish"))
    } finally q.stop()
  }

  test("pozo change detection stream: no sha256 on either update → amounts decide") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[PozoUpdate]
    val q = EventStreams.pozoChangeDetect(input.toDS())
      .writeStream.format("memory").queryName("pozo_decisions_nosha")
      .outputMode("append").start()
    try {
      input.addData(
        PozoUpdate(5417L, "2026-04-26", null, Map("Loto" -> 100L), ts(0)),
        PozoUpdate(5417L, "2026-04-26", null, Map("Loto" -> 999L), ts(1)))
      q.processAllAvailable()
      val statuses = spark.table("pozo_decisions_nosha").as[PozoDecision]
        .collect().map(_.status).toSeq
      assert(statuses == Seq("publish", "publish"))
    } finally q.stop()
  }

  test("session windows group events by inactivity gap (batch mode)") {
    import spark.implicits._
    // session_window works identically on batch frames — verify grouping
    val df = Seq(
      Ev(ts(0), 1, "a", 1.0), Ev(ts(5), 1, "a", 1.0),   // session 1
      Ev(ts(30), 1, "a", 1.0),                            // session 2 (gap 25m)
      Ev(ts(2), 2, "a", 1.0)).toDF()
    val sessions = EventStreams.sessionAgg(df, gap = "10 minutes")
      .filter(col("user_id") === 1).orderBy("s_start").collect()
    assert(sessions.length == 2)
    assert(sessions(0).getAs[Long]("n_events") == 2L)
    assert(sessions(1).getAs[Long]("n_events") == 1L)
  }

  test("stream-static enrich broadcasts the dim, unmatched keys survive") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val dim = Seq((1L, "gold"), (2L, "basic")).toDF("user_id", "tier")
    val input = MemoryStream[Ev]
    val q = EventStreams.enrich(input.toDF(), dim, "user_id")
      .writeStream.format("memory").queryName("enriched")
      .outputMode("append").start()
    try {
      input.addData(Ev(ts(0), 1, "view", 1.0), Ev(ts(1), 7, "view", 1.0))
      q.processAllAvailable()
      val rows = spark.table("enriched").select("user_id", "tier").collect()
        .map(r => r.getLong(0) -> Option(r.getString(1))).toMap
      assert(rows(1L).contains("gold"))
      assert(rows(7L).isEmpty) // left join keeps unmatched events
    } finally q.stop()
  }

  test("stream-stream interval join pairs events within the bound only") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val views = MemoryStream[Ev]
    val buys = MemoryStream[Ev]
    val q = EventStreams.intervalJoin(views.toDF(), buys.toDF(),
        within = "10 minutes", lateness = "5 minutes")
      .writeStream.format("memory").queryName("ssjoin")
      .outputMode("append").start()
    try {
      views.addData(Ev(ts(0), 1, "view", 0), Ev(ts(0), 2, "view", 0))
      buys.addData(
        Ev(ts(5), 1, "buy", 0),    // within 10m of user 1's view → match
        Ev(ts(20), 2, "buy", 0),   // 20m after user 2's view → outside bound
        Ev(ts(6), 3, "buy", 0))    // no left side → no match
      q.processAllAvailable()
      // advance both watermarks so results finalize
      views.addData(Ev(ts(120), 9, "view", 0))
      buys.addData(Ev(ts(120), 9, "buy", 0))
      q.processAllAvailable()
      val rows = spark.table("ssjoin")
        .select("user_id", "l_type", "r_type", "lag_sec").collect()
        .map(r => (r.getLong(0), r.getString(1), r.getString(2), r.getLong(3)))
      assert(rows.count(_._1 == 1L) == 1)
      assert(rows.find(_._1 == 1L).get == ((1L, "view", "buy", 300L)))
      assert(!rows.exists(_._1 == 2L)) // outside the interval
      assert(!rows.exists(_._1 == 3L)) // unmatched right
    } finally q.stop()
  }

  test("corpus stats sink: totals accumulate; restart replays apply once") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val root = java.nio.file.Files.createTempDirectory("graft-statsink").toString
    var latest: Map[String, (Long, Long)] = Map.empty
    val sink = EventStreams.corpusStatsSink(root, onStats = df =>
      latest = df.collect().map(r => r.getString(0) ->
        (r.getLong(1), r.getLong(2))).toMap)
    val in = MemoryStream[(Long, String, String)]
    val q = in.toDF().toDF("doc_id", "lang", "text").writeStream
      .foreachBatch(sink).outputMode("append").start()
    try {
      in.addData((1L, "en", "a b c"), (2L, "es", "x y"))
      q.processAllAvailable()
      in.addData((3L, "en", "d e"))
      q.processAllAvailable()
    } finally q.stop()
    assert(latest("en") == ((2L, 5L)) && latest("es") == ((1L, 2L)), latest)
    // replaying batch id 0 through the raw sink (the crash window a
    // restarted query hits) must not double-count
    sink(Seq((1L, "en", "a b c"), (2L, "es", "x y"))
      .toDF("doc_id", "lang", "text"), 0L)
    assert(latest("en") == ((2L, 5L)) && latest("es") == ((1L, 2L)),
      s"replay double-counted: $latest")
  }

  test("trending terms: per closed window top-k, late state dropped") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val tops = scala.collection.mutable.ArrayBuffer[(Timestamp, String, Long)]()
    val in = MemoryStream[Doc]
    val q = EventStreams.trendingTerms(in.toDF(), window_ = "1 hour",
        lateness = "10 minutes")
      .writeStream.outputMode("append")
      .foreachBatch(EventStreams.trendingSink(2, df =>
        tops ++= df.collect().map(r => (r.getTimestamp(0), r.getString(1),
          r.getLong(2)))))
      .start()
    def ts(h: Int, m: Int) = Timestamp.valueOf(f"2026-01-01 $h%02d:$m%02d:00")
    try {
      in.addData(
        Doc(ts(10, 5), 1L, "spark spark flink"),
        Doc(ts(10, 20), 2L, "spark duck duck duck"))
      q.processAllAvailable()
      assert(tops.isEmpty, "window must not emit before the watermark passes")
      // event far past the window closes 10:00–11:00
      in.addData(Doc(ts(12, 30), 3L, "later later words"))
      q.processAllAvailable()
    } finally q.stop()
    val w10 = tops.filter(_._1 == ts(10, 0)).map(t => (t._2, t._3)).sorted
    assert(w10 == Seq(("duck", 3L), ("spark", 3L)), s"got $tops")
  }

  test("drift monitor sink: quiet batch stays quiet, shifted batch alarms") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val ref = (0 until 100).map(i => (i.toLong, i.toDouble)).toDF("id", "v")
    val reports = scala.collection.mutable.ArrayBuffer[(Long, Double, Boolean, Long)]()
    val sink = EventStreams.driftMonitorSink(ref, "v", lo = 0, hi = 100,
      bins = 10, threshold = 0.25,
      onReport = df => reports ++= df.collect().map(r => (r.getLong(0),
        r.getAs[Double]("psi"), r.getAs[Boolean]("alarm"), r.getAs[Long]("n_cur"))))
    val in = MemoryStream[(Long, Double)]
    val q = in.toDF().toDF("id", "v").writeStream
      .foreachBatch(sink).outputMode("append").start()
    try {
      in.addData((0 until 100).map(i => (1000L + i, i.toDouble)): _*) // same shape
      q.processAllAvailable()
      in.addData((0 until 100).map(i => (2000L + i, 5.0)): _*) // all in bin 0
      q.processAllAvailable()
    } finally q.stop()
    assert(reports.length == 2, s"got $reports")
    val (_, psi1, alarm1, n1) = reports(0)
    val (_, psi2, alarm2, n2) = reports(1)
    assert(n1 == 100L && n2 == 100L)
    assert(psi1 == 0.0 && !alarm1, s"uniform batch drifted: $psi1")
    assert(alarm2 && psi2 > 1.0, s"collapsed batch must alarm hard: $psi2")
  }

  test("trending sink: crashed batch replays to identical final state") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    // downstream keyed by window start — the idempotence unit: a closed
    // window arrives complete in one batch, so a replay after a crash
    // overwrites the same key with the same rows
    def ts(h: Int, m: Int) = Timestamp.valueOf(f"2026-01-01 $h%02d:$m%02d:00")
    def run(crash: Boolean): Map[Timestamp, Seq[(String, Long)]] = {
      val ckpt = java.nio.file.Files.createTempDirectory("graft-trend-ckpt").toString
      val state = scala.collection.mutable.Map[Timestamp, Seq[(String, Long)]]()
      @volatile var failNext = false
      val inner = EventStreams.trendingSink(2, df => {
        val rows = df.collect().map(r =>
          (r.getTimestamp(0), r.getString(1), r.getLong(2)))
        // crash AFTER the top-k is computed, BEFORE the downstream
        // effect lands — the replay window
        if (failNext) { failNext = false; throw new RuntimeException("sink crash") }
        rows.groupBy(_._1).foreach { case (w, rs) =>
          state(w) = rs.map(t => (t._2, t._3)).sortBy(_._1).toSeq }
      })
      val in = MemoryStream[Doc]
      def start() = EventStreams.trendingTerms(in.toDF(), window_ = "1 hour",
          lateness = "10 minutes")
        .writeStream.outputMode("append")
        .option("checkpointLocation", ckpt)
        .foreachBatch(inner).start()
      val q1 = start()
      try {
        in.addData(
          Doc(ts(10, 5), 1L, "spark spark flink"),
          Doc(ts(10, 20), 2L, "spark duck duck duck"))
        q1.processAllAvailable()
        failNext = crash
        in.addData(Doc(ts(12, 30), 3L, "later later words")) // closes 10:00
        if (crash) intercept[Exception] { q1.processAllAvailable() }
        else q1.processAllAvailable()
      } finally q1.stop()
      if (crash) { // restart from the SAME checkpoint: batch replays
        val q2 = start()
        try q2.processAllAvailable() finally q2.stop()
      }
      state.toMap
    }
    val clean = run(crash = false)
    val replayed = run(crash = true)
    assert(clean(ts(10, 0)) == Seq(("duck", 3L), ("spark", 3L)), clean)
    assert(replayed == clean, s"crash replay diverged: $replayed vs $clean")
  }

  test("drift monitor sink: crashed batch replays once, keyed by batch id") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val ref = (0 until 100).map(i => (i.toLong, i.toDouble)).toDF("id", "v")
    def run(crash: Boolean): Map[Long, (Double, Boolean, Long)] = {
      val ckpt = java.nio.file.Files.createTempDirectory("graft-drift-ckpt").toString
      // batch_id IS the exactly-once marker: a replayed batch carries the
      // same id, so the keyed upsert cannot double-report
      val reports = scala.collection.mutable.Map[Long, (Double, Boolean, Long)]()
      @volatile var failNext = false
      val base = EventStreams.driftMonitorSink(ref, "v", lo = 0, hi = 100,
        bins = 10, threshold = 0.25,
        onReport = df => {
          val r = df.collect().head
          if (failNext) { failNext = false; throw new RuntimeException("sink crash") }
          reports(r.getLong(0)) = (r.getAs[Double]("psi"),
            r.getAs[Boolean]("alarm"), r.getAs[Long]("n_cur"))
        })
      val in = MemoryStream[(Long, Double)]
      def start() = in.toDF().toDF("id", "v").writeStream
        .option("checkpointLocation", ckpt)
        .foreachBatch(base).outputMode("append").start()
      val q1 = start()
      try {
        in.addData((0 until 100).map(i => (1000L + i, i.toDouble)): _*)
        q1.processAllAvailable()
        failNext = crash
        in.addData((0 until 100).map(i => (2000L + i, 5.0)): _*) // drifted batch
        if (crash) intercept[Exception] { q1.processAllAvailable() }
        else q1.processAllAvailable()
      } finally q1.stop()
      if (crash) {
        val q2 = start()
        try q2.processAllAvailable() finally q2.stop()
      }
      reports.toMap
    }
    val clean = run(crash = false)
    val replayed = run(crash = true)
    assert(clean.size == 2 && clean(1L)._2, s"drifted batch must alarm: $clean")
    assert(replayed == clean, s"crash replay diverged: $replayed vs $clean")
  }

  test("semantic dedup sink: cell state survives micro-batches and restarts") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val root = java.nio.file.Files.createTempDirectory("graft-stream-sem").toString
    val accepted = scala.collection.mutable.ArrayBuffer[Long]()
    val sink = EventStreams.semanticDedupSink(root, tau = 0.9, nCells = 1,
      onAccepted = df => accepted ++= df.select("vec_id").collect().map(_.getLong(0)))

    val in1 = MemoryStream[Vec]
    val q1 = in1.toDF().select("vec_id", "embedding").writeStream
      .foreachBatch(sink).outputMode("append").start()
    try {
      in1.addData(Vec(1L, Seq(1.0, 0.0, 0.0)), Vec(2L, Seq(0.0, 1.0, 0.0)))
      q1.processAllAvailable()
      // near-copy of vector 1 → dropped; novel axis → accepted
      in1.addData(Vec(3L, Seq(0.99, 0.01, 0.0)), Vec(4L, Seq(0.0, 0.0, 1.0)))
      q1.processAllAvailable()
    } finally q1.stop()
    assert(accepted.sorted == Seq(1L, 2L, 4L), s"got $accepted")

    // fresh query, fresh checkpoint: the kept store + frozen centroids
    // live in the StateTable, not the streaming checkpoint
    val in2 = MemoryStream[Vec]
    val q2 = in2.toDF().select("vec_id", "embedding").writeStream
      .foreachBatch(sink).outputMode("append").start()
    try {
      in2.addData(Vec(10L, Seq(0.98, 0.02, 0.0))) // still known → dropped
      in2.addData(Vec(11L, Seq(0.5, 0.5, 0.70)))  // novel direction
      q2.processAllAvailable()
    } finally q2.stop()
    assert(accepted.sorted == Seq(1L, 2L, 4L, 11L), s"restart lost state: $accepted")
  }
}
