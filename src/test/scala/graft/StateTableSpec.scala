package graft

import java.nio.file.{Files, Paths}
import graft.ops.StateTable

class StateTableSpec extends SparkSpec {

  private def tmp() = Files.createTempDirectory("graft-state").toString

  test("upsert replaces keyed rows, preserves others, versions advance") {
    import spark.implicits._
    val root = tmp()
    assert(StateTable.read(spark, root).isEmpty)

    val v0 = StateTable.upsert(spark, root,
      Seq((5417L, "2026-04-26", 100L), (5418L, "2026-05-03", 200L))
        .toDF("sorteo", "fecha", "monto"), Seq("sorteo", "fecha"))
    assert(v0 == 0L)

    val v1 = StateTable.upsert(spark, root,
      Seq((5417L, "2026-04-26", 999L), (5419L, "2026-05-10", 300L))
        .toDF("sorteo", "fecha", "monto"), Seq("sorteo", "fecha"))
    assert(v1 == 1L)

    val got = StateTable.read(spark, root).get
      .collect().map(r => (r.getLong(0), r.getString(1)) -> r.getLong(2)).toMap
    assert(got == Map(
      (5417L, "2026-04-26") -> 999L,  // updated
      (5418L, "2026-05-03") -> 200L,  // preserved
      (5419L, "2026-05-10") -> 300L)) // inserted
  }

  test("old versions pruned behind the retention window") {
    import spark.implicits._
    val root = tmp()
    for (i <- 0 until 6)
      StateTable.upsert(spark, root,
        Seq((1L, "f", i.toLong)).toDF("sorteo", "fecha", "monto"),
        Seq("sorteo", "fecha"), keepVersions = 2)
    assert(StateTable.latestVersion(root).contains(5L))
    val versions = Files.list(Paths.get(root)).iterator()
    val names = new scala.collection.mutable.ListBuffer[String]
    while (versions.hasNext) names += versions.next().getFileName.toString
    assert(names.count(_.startsWith("v=")) == 2) // only v=4, v=5 survive
    assert(StateTable.read(spark, root).get.collect().head.getLong(2) == 5L)
  }

  test("bucketed upsert: untouched bucket files are byte-identical across versions") {
    import spark.implicits._
    val root = tmp()
    // small bucket count so a 64-key state spreads over every bucket
    StateTable.upsert(spark, root,
      (0L until 64L).map(i => (i, s"f$i", i)).toDF("sorteo", "fecha", "monto"),
      Seq("sorteo", "fecha"), numBuckets = 4)
    val before = bucketFiles(Paths.get(root, "v=0"))
    assert(before.size == 4, s"expected all 4 buckets populated, got ${before.keySet}")
    // a single-key update touches exactly one bucket
    StateTable.upsert(spark, root,
      Seq((0L, "f0", 999L)).toDF("sorteo", "fecha", "monto"), Seq("sorteo", "fecha"))
    val after = bucketFiles(Paths.get(root, "v=1"))
    assert(after.keySet == before.keySet, "every bucket must exist in the new version")
    val identical = before.keySet.count(b => before(b) == after(b))
    assert(identical == 3, s"expected 3 untouched buckets carried over unchanged, got $identical")
    // and the merged content is still right
    val got = StateTable.read(spark, root).get
      .collect().map(r => r.getLong(0) -> r.getLong(2)).toMap
    assert(got(0L) == 999L && got(1L) == 1L && got.size == 64)
  }

  test("delete removes keyed rows bucket-incrementally; untouched buckets link") {
    import spark.implicits._
    val root = tmp()
    StateTable.upsert(spark, root,
      (0L until 64L).map(i => (i, s"f$i", i)).toDF("sorteo", "fecha", "monto"),
      Seq("sorteo", "fecha"), numBuckets = 4)
    val before = bucketFiles(Paths.get(root, "v=0"))
    val v = StateTable.delete(spark, root,
      Seq((0L, "f0"), (1L, "f1")).toDF("sorteo", "fecha"),
      Seq("sorteo", "fecha"))
    assert(v == 1L)
    val got = StateTable.read(spark, root).get
      .collect().map(_.getLong(0)).toSet
    assert(got.size == 62 && !got.contains(0L) && !got.contains(1L))
    val after = bucketFiles(Paths.get(root, "v=1"))
    val identical = before.keySet.count(b => after.get(b).contains(before(b)))
    assert(identical >= 2, s"untouched buckets must carry over unchanged: $identical")
    // deleting nothing known: version advances, content intact
    StateTable.delete(spark, root, Seq((999L, "zz")).toDF("sorteo", "fecha"),
      Seq("sorteo", "fecha"))
    assert(StateTable.read(spark, root).get.count() == 62)
    // delete on an empty root is a -1 no-op
    assert(StateTable.delete(spark, tmp(),
      Seq((1L, "a")).toDF("sorteo", "fecha"), Seq("sorteo", "fecha")) == -1L)
  }

  /** bucket dir name -> (file name -> content hash), data files only. */
  private def bucketFiles(versionDir: java.nio.file.Path): Map[String, Map[String, String]] = {
    val md = java.security.MessageDigest.getInstance("SHA-256")
    val it = Files.list(versionDir).iterator()
    val out = scala.collection.mutable.Map[String, Map[String, String]]()
    while (it.hasNext) {
      val p = it.next()
      val name = p.getFileName.toString
      if (name.startsWith("__graft_bucket=")) {
        val files = Files.list(p).iterator()
        val m = scala.collection.mutable.Map[String, String]()
        while (files.hasNext) {
          val f = files.next()
          if (f.getFileName.toString.endsWith(".parquet"))
            m += f.getFileName.toString ->
              md.digest(Files.readAllBytes(f)).map("%02x".format(_)).mkString
        }
        out += name -> m.toMap
      }
    }
    out.toMap
  }

  test("pre-bucketed flat snapshot is migrated, not silently dropped") {
    import spark.implicits._
    import org.apache.spark.sql.functions.col
    val root = tmp()
    // fabricate a legacy layout: parquet files directly under v=0,
    // no __graft_bucket= dirs, pointer at 0
    Seq((1L, "a"), (2L, "b")).toDF("k", "v")
      .coalesce(1).write.parquet(s"$root/v=0")
    Files.writeString(Paths.get(root, "_VERSION"), "0")
    val v1 = StateTable.upsert(spark, root,
      Seq((2L, "B2"), (3L, "c")).toDF("k", "v"), Seq("k"))
    assert(v1 == 1L)
    val got = StateTable.read(spark, root).get.orderBy("k")
      .collect().map(r => (r.getLong(0), r.getString(1))).toSeq
    // legacy row 1 survives, 2 is replaced, 3 is new
    assert(got == Seq((1L, "a"), (2L, "B2"), (3L, "c")), s"got $got")
  }

  test("duplicate keys inside one update batch do not multiply state") {
    import spark.implicits._
    val root = tmp()
    StateTable.upsert(spark, root,
      Seq((1L, "f", 1L)).toDF("sorteo", "fecha", "monto"), Seq("sorteo", "fecha"))
    StateTable.upsert(spark, root,
      Seq((1L, "f", 2L), (1L, "f", 2L)).toDF("sorteo", "fecha", "monto"),
      Seq("sorteo", "fecha"))
    // both update rows land (dedup of updates is the caller's contract),
    // but the OLD row for the key is gone
    val vals = StateTable.read(spark, root).get.collect().map(_.getLong(2)).toSeq
    assert(!vals.contains(1L))
    assert(vals.forall(_ == 2L))
  }
}
