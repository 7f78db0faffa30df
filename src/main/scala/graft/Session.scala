package graft

import org.apache.spark.sql.SparkSession

/** The one place a `src/main` entry point builds its SparkSession. A
  * profile is a plain conf map (`spark.master` and `spark.app.name`
  * included), a pure function of the environment, so a spec can pin it
  * without starting Spark.
  *
  *  - [[cli]] is `graft.Main`'s: `SPARK_MASTER` (default `local[4]`),
  *    4 shuffle partitions, app name `pollaspark` — EP1 moves a handful
  *    of rows, so a wide local master only adds task overhead.
  *  - [[suite]] is the declared-query suite's (Bench, Verify, ExplainQ,
  *    GenScale), so the plans a tool prints come from the config that is
  *    timed and dumped:
  *    - `SPARK_GRAFT_CPUS` (default 32) sets `local[n]`;
  *    - `SPARK_GRAFT_SHUFFLE_PARTITIONS` (default: the thread count) sets
  *      the static shuffle width. At sf10 a 32-wide shuffle makes each
  *      partition 10× the sf1 size and the heavy aggs spill; AQE
  *      coalesces excess width but never splits an oversized non-skew
  *      partition, so the static width must not undershoot;
  *    - `SPARK_GRAFT_IO_CODEC` (default lz4): `zstd` halves shuffle-file
  *      bytes for some CPU, the trade when shuffle storage, not cores,
  *      binds. rdd and checkpoint blocks are always compressed: at sf100
  *      the uncompressed pagerank edge pin alone was ~40 GB of local
  *      disk, and at sf0.1 on/off measured within host noise;
  *    - `SPARK_GRAFT_ADVISORY_MB` sets AQE's advisory partition bytes.
  *      Byte-targeted coalescing cannot see aggregation-state volume: at
  *      sf100 graph_pagerank's contribution reduce was coalesced
  *      1024 → 33 tasks and spilled 40 GB per iteration; a smaller
  *      target means more reduce tasks and bounded agg state;
  *    - `SPARK_GRAFT_CHECKPOINT_DIR` sets [[ops.Materialize.ConfKey]]:
  *      every Materialize pin becomes a reliable compressed checkpoint
  *      instead of a localCheckpoint. At sf100 the pagerank edge pin
  *      unrolled ~600 MB per partition × 32 tasks through MemoryStore and
  *      OOM'd a 64 g heap; the reliable path streams each partition to
  *      disk.
  *
  * Both profiles set the session time zone to UTC and switch the UI off;
  * [[build]] sets the log level to WARN and installs graft's planner
  * strategies ([[plans.Strategies]]). */
object Session {

  def cli(env: Map[String, String] = sys.env): Map[String, String] = Map(
    "spark.master" -> env.getOrElse("SPARK_MASTER", "local[4]"),
    "spark.app.name" -> "pollaspark",
    "spark.sql.shuffle.partitions" -> "4",
    "spark.sql.session.timeZone" -> "UTC",
    "spark.ui.enabled" -> "false")

  def suite(env: Map[String, String] = sys.env): Map[String, String] = {
    val cpus = env.getOrElse("SPARK_GRAFT_CPUS", "32")
    Map(
      "spark.master" -> s"local[$cpus]",
      "spark.sql.adaptive.enabled" -> "true",
      "spark.sql.shuffle.partitions" ->
        env.getOrElse("SPARK_GRAFT_SHUFFLE_PARTITIONS", cpus),
      "spark.sql.session.timeZone" -> "UTC",
      // Tables.events documents why: a TIMESTAMP(NANOS) events.ts
      // otherwise fails to read
      "spark.sql.legacy.parquet.nanosAsLong" -> "true",
      "spark.rdd.compress" -> "true",
      "spark.checkpoint.compress" -> "true",
      "spark.io.compression.codec" -> env.getOrElse("SPARK_GRAFT_IO_CODEC", "lz4"),
      "spark.ui.enabled" -> "false") ++
      env.get("SPARK_GRAFT_ADVISORY_MB").map(mb =>
        "spark.sql.adaptive.advisoryPartitionSizeInBytes" -> s"${mb.toInt}m") ++
      env.get("SPARK_GRAFT_CHECKPOINT_DIR").filter(_.nonEmpty).map(d =>
        ops.Materialize.ConfKey -> d)
  }

  def build(profile: Map[String, String]): SparkSession = {
    val spark = SparkSession.builder().config(profile).getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    plans.Strategies.install(spark)
    spark
  }
}
