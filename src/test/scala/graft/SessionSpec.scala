package graft

import org.scalatest.funsuite.AnyFunSuite

/** Pins the two session profiles every `src/main` entry point builds
  * from: `graft.Main`'s CLI profile, and the suite profile of Bench,
  * Verify, ExplainQ and GenScale. */
class SessionSpec extends AnyFunSuite {

  test("the CLI profile: local[4], 4 shuffle partitions, app pollaspark") {
    assert(Session.cli(Map.empty) === Map(
      "spark.master" -> "local[4]",
      "spark.app.name" -> "pollaspark",
      "spark.sql.shuffle.partitions" -> "4",
      "spark.sql.session.timeZone" -> "UTC",
      "spark.ui.enabled" -> "false"))
    assert(Session.cli(Map("SPARK_MASTER" -> "local[2]"))("spark.master") === "local[2]")
    // the suite's knobs do not reach the CLI
    assert(Session.cli(Map("SPARK_GRAFT_CPUS" -> "8",
      "SPARK_GRAFT_CHECKPOINT_DIR" -> "/ckpt")) === Session.cli(Map.empty))
  }

  test("the suite profile with no env is the bench's 32-thread conf") {
    assert(Session.suite(Map.empty) === Map(
      "spark.master" -> "local[32]",
      "spark.sql.adaptive.enabled" -> "true",
      "spark.sql.shuffle.partitions" -> "32",
      "spark.sql.session.timeZone" -> "UTC",
      "spark.sql.legacy.parquet.nanosAsLong" -> "true",
      "spark.rdd.compress" -> "true",
      "spark.checkpoint.compress" -> "true",
      "spark.io.compression.codec" -> "lz4",
      "spark.ui.enabled" -> "false"))
  }

  test("the suite profile reads its five env knobs") {
    val base = Session.suite(Map.empty)
    assert(Session.suite(Map("SPARK_GRAFT_CPUS" -> "8")) === base ++ Map(
      "spark.master" -> "local[8]", "spark.sql.shuffle.partitions" -> "8"))
    assert(Session.suite(Map("SPARK_GRAFT_CPUS" -> "8",
      "SPARK_GRAFT_SHUFFLE_PARTITIONS" -> "64",
      "SPARK_GRAFT_IO_CODEC" -> "zstd",
      "SPARK_GRAFT_ADVISORY_MB" -> "16",
      "SPARK_GRAFT_CHECKPOINT_DIR" -> "/ckpt")) === base ++ Map(
      "spark.master" -> "local[8]",
      "spark.sql.shuffle.partitions" -> "64",
      "spark.io.compression.codec" -> "zstd",
      "spark.sql.adaptive.advisoryPartitionSizeInBytes" -> "16m",
      ops.Materialize.ConfKey -> "/ckpt"))
    // an empty checkpoint dir keeps localCheckpoint
    assert(Session.suite(Map("SPARK_GRAFT_CHECKPOINT_DIR" -> "")) === base)
    assertThrows[NumberFormatException](
      Session.suite(Map("SPARK_GRAFT_ADVISORY_MB" -> "16m")))
  }
}
