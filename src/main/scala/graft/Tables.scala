package graft

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.types.StructType

/** Loaders for the driver test tables (TESTDATA.md).
  *
  * All declared queries resolve tables through here so that the scan is a
  * plain parquet relation: Catalyst pushes filters and prunes columns into
  * the scan (verify with `.explain("formatted")` → PushedFilters/ReadSchema).
  */
object Tables {
  val names: Seq[String] = Seq(
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings")

  /** A plain parquet relation over `dir/name.parquet`, with Spark's own
    * inferred schema remembered for the JVM.
    *
    * `spark.read.parquet` infers the schema from the footers with a
    * one-task Spark job on every call, and every declared query's `fn`
    * loads its tables afresh, so building a query ran one job per table
    * read. The first read of a table still infers exactly as Spark does;
    * later reads pass that schema to `spark.read.schema(...)` and start no
    * job. Each call still builds a fresh relation (fresh attribute ids, a
    * fresh file listing), so self-joins resolve and appended files are
    * seen; memoizing the DataFrame instead would share attribute ids
    * between two loads of one table, which the self-join check rejects.
    *
    * A schema is reused only while the table's file identity — qualified
    * path, modification time and length from one `getFileStatus` — and
    * the session confs that change parquet inference ([[InferenceConfs]])
    * are all unchanged. Spark's writers replace or add part files, which
    * moves the table directory's modification time; a file system that
    * reports no time (0) is never memoized. A missing path falls through
    * to `spark.read.parquet`, so its error is Spark's own.
    *
    * Every declared query enters here, so this is also where graft's
    * planner strategies reach a session ([[plans.Strategies.install]]). */
  def load(spark: SparkSession, dir: String, name: String): DataFrame = {
    plans.Strategies.install(spark)
    val path = s"$dir/$name.parquet"
    val p = new Path(path)
    val status =
      try Some(p.getFileSystem(spark.sparkContext.hadoopConfiguration).getFileStatus(p))
      catch { case _: java.io.FileNotFoundException => None }
    status.filter(_.getModificationTime > 0) match {
      case None => spark.read.parquet(path)
      case Some(st) =>
        val key = (st.getPath.toString, InferenceConfs.map(spark.conf.getOption))
        val hit = schemaMemo.get(key)
        if (hit != null && hit.modTime == st.getModificationTime && hit.length == st.getLen)
          spark.read.schema(hit.schema).parquet(path)
        else {
          val df = spark.read.parquet(path)
          schemaMemo.put(key, Inferred(st.getModificationTime, st.getLen, df.schema))
          df
        }
    }
  }

  /** Session confs under which parquet schema inference can return a
    * different schema for the same files. */
  private val InferenceConfs = Seq(
    "spark.sql.legacy.parquet.nanosAsLong",
    "spark.sql.parquet.binaryAsString",
    "spark.sql.parquet.int96AsTimestamp",
    "spark.sql.parquet.inferTimestampNTZ.enabled",
    "spark.sql.parquet.mergeSchema",
    "spark.sql.caseSensitive")

  private final case class Inferred(modTime: Long, length: Long, schema: StructType)
  /** One entry per (qualified path, inference confs): a rewritten table
    * replaces its entry instead of adding one. */
  private val schemaMemo =
    new java.util.concurrent.ConcurrentHashMap[(String, Seq[Option[String]]), Inferred]()

  def region(s: SparkSession, d: String): DataFrame    = load(s, d, "region")
  def nation(s: SparkSession, d: String): DataFrame    = load(s, d, "nation")
  def customer(s: SparkSession, d: String): DataFrame  = load(s, d, "customer")
  def supplier(s: SparkSession, d: String): DataFrame  = load(s, d, "supplier")
  def part(s: SparkSession, d: String): DataFrame      = load(s, d, "part")
  def orders(s: SparkSession, d: String): DataFrame    = load(s, d, "orders")
  def lineitem(s: SparkSession, d: String): DataFrame  = load(s, d, "lineitem")
  /** `events.ts` arrives in whatever physical type the driver's parquet
    * writer chose that round, so normalize ONCE here to session-TZ
    * `TimestampType` and let every query downstream assume it:
    *  - TIMESTAMP(NANOS): Spark has no type for it; with
    *    `spark.sql.legacy.parquet.nanosAsLong=true` it scans as LongType
    *    and we rebuild the (micro-precision, lossless) timestamp;
    *  - timestamp[us] without UTC adjustment: scans as TIMESTAMP_NTZ,
    *    which `unix_micros`/`timestamp_micros` reject — cast to TIMESTAMP,
    *    lossless under the UTC session TZ every entrypoint sets.
    *
    * Pushdown note: a literal predicate on the CAST column cannot reach
    * the parquet scan. No current query filters events on a ts literal
    * (they compare ts against window-derived columns); a future one
    * should filter on the raw scan column first, then normalize. */
  def events(s: SparkSession, d: String): DataFrame = {
    val df = load(s, d, "events")
    df.schema("ts").dataType match {
      case org.apache.spark.sql.types.LongType =>
        df.withColumn("ts", org.apache.spark.sql.functions.expr("timestamp_micros(ts div 1000)"))
      case org.apache.spark.sql.types.TimestampNTZType =>
        df.withColumn("ts", df("ts").cast(org.apache.spark.sql.types.TimestampType))
      case _ => df
    }
  }
  def documents(s: SparkSession, d: String): DataFrame = load(s, d, "documents")
  def embeddings(s: SparkSession, d: String): DataFrame = load(s, d, "embeddings")

  /** Footer-served scan: a DSv2 parquet relation for `name`, so that an
    * unfiltered COUNT(*)/MIN/MAX aggregate over it is answered from parquet
    * footer statistics (`PushedAggregation` in the plan) instead of a data
    * scan — at 100 TB that is the difference between reading row-group
    * metadata and reading the table.
    *
    * Two confs cooperate, and BOTH live on a dedicated child session
    * (`newSession()` shares the SparkContext — caches, executors — but
    * owns its SQLConf), so the caller's session is never mutated and
    * concurrent plain loads can never accidentally plan as V2:
    *  - `spark.sql.sources.useV1SourceList=""` routes the read to DSv2
    *    (the parent's default V1 path keeps serving every other scan,
    *    preserving bucketed-join support, which is V1-only);
    *  - `spark.sql.parquet.aggregatePushdown=true` is consulted at PLAN
    *    time by `V2ScanRelationPushDown`, against the frame's OWN session
    *    — the child — so no global conf is needed anywhere.
    *
    * Scope of validity (enforced by the caller, pinned by FooterStatsSpec):
    * exact for COUNT(*) always; for MIN/MAX use numeric/date columns only —
    * writers may truncate string statistics, and Spark's footer fast-path
    * rejects such columns at runtime rather than silently using them. */
  def footerScan(spark: SparkSession, dir: String, name: String): DataFrame =
    load(footerSession(spark), dir, name)

  /** The footer-configured child of each parent session, built once. A
    * child reads through the same schema memo as every [[load]], so a
    * footer frame starts no inference job after its table's first read.
    * The parent key is WEAK and a child does not reference its parent, so
    * a dropped session's child is collectable rather than pinned for the
    * JVM lifetime. `newSession()` builds its SQLConf from the shared
    * SparkContext conf only, so runtime-set session confs do NOT carry
    * over — copy the ones the footer path's correctness depends on. */
  private def footerSession(parent: SparkSession): SparkSession =
    footerSessions.synchronized {
      var s = footerSessions.get(parent)
      if (s == null) {
        s = parent.newSession()
        // timeZone: timestamp rendering; nanosAsLong: events TIMESTAMP(NANOS)
        Seq("spark.sql.session.timeZone", "spark.sql.legacy.parquet.nanosAsLong")
          .foreach(k => parent.conf.getOption(k).foreach(s.conf.set(k, _)))
        s.conf.set("spark.sql.sources.useV1SourceList", "")
        s.conf.set("spark.sql.parquet.aggregatePushdown", "true")
        footerSessions.put(parent, s)
      }
      s
    }
  private val footerSessions =
    new java.util.WeakHashMap[SparkSession, SparkSession]()

  /** Exact row count of table `name` read DRIVER-SIDE from parquet footer
    * metadata — no Spark job at all (the [[footerScan]] path still launches
    * a one-task job; this opens the footers directly). Use it for
    * plan-construction decisions (broadcast gates, width sizing) where even
    * a footer-served job per call is a visible cost on the SQL tab.
    *
    * Reads row-group metadata only: O(files) driver round trips, bytes
    * read independent of table size — the same footers every scan's split
    * planning already touches. Memoized per (dir, name) for the JVM: the
    * value is one Long keyed by two Strings, and the driver's tables are
    * written once per round, before any query runs; a caller that
    * rewrites a table mid-session keeps its first count. */
  def footerRowCount(spark: SparkSession, dir: String, name: String): Long =
    rowCountMemo.computeIfAbsent((dir, name), { _ =>
      val conf = spark.sparkContext.hadoopConfiguration
      val root = new org.apache.hadoop.fs.Path(s"$dir/$name.parquet")
      val fs = root.getFileSystem(conf)
      // Recurse: a partitioned/bucketed layout nests its part files under
      // key=value subdirectories — a non-recursive listing would silently
      // undercount (possibly to 0), and this value feeds broadcast gates
      // where an undercounted huge corpus would wrongly pass a size check.
      val files =
        if (fs.getFileStatus(root).isFile) Array(fs.getFileStatus(root))
        else {
          // Hidden/metadata components below the root are NOT data:
          // `_temporary` from an in-flight or crashed write, `_SUCCESS`,
          // `.hive-staging`, checksum files — Spark's own file index
          // filters components starting with '_' or '.', and counting
          // them here would inflate the value feeding broadcast gates
          // (r13 ADVICE). The root itself is exempt (its name is ours).
          val rootDepth = root.depth()
          def visible(p: org.apache.hadoop.fs.Path): Boolean = {
            var cur = p
            var ok = true
            while (ok && cur != null && cur.depth() > rootDepth) {
              val n = cur.getName
              if (n.startsWith("_") || n.startsWith(".")) ok = false
              cur = cur.getParent
            }
            ok
          }
          val it = fs.listFiles(root, /* recursive = */ true)
          val buf = scala.collection.mutable.ArrayBuffer
            .empty[org.apache.hadoop.fs.FileStatus]
          while (it.hasNext) {
            val st = it.next()
            if (st.getPath.getName.endsWith(".parquet") &&
                visible(st.getPath)) buf += st
          }
          buf.toArray
        }
      // Fail loudly rather than return 0: an empty table dir is a caller
      // bug (wrong path / non-parquet layout), and 0 flowing into a
      // broadcast gate is exactly the OOM this count exists to prevent.
      require(files.nonEmpty,
        s"footerRowCount: no .parquet files under $root — wrong path or " +
          "non-parquet layout; refusing to report 0 rows")
      files.map { st =>
        val rd = org.apache.parquet.hadoop.ParquetFileReader.open(
          org.apache.parquet.hadoop.util.HadoopInputFile.fromStatus(st, conf))
        try rd.getRecordCount finally rd.close()
      }.sum
    })
  private val rowCountMemo =
    new java.util.concurrent.ConcurrentHashMap[(String, String), Long]()
}
