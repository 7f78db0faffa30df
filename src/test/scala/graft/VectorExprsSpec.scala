package graft

import org.apache.spark.sql.functions._
import graft.functions.VectorExprs
import graft.ops.Dedup

/** Native vector expressions and single-pass sketch aggregators:
  * bit-identical to the formulations they replaced, and still correct at
  * partition boundaries (the aggregator merge path). */
class VectorExprsSpec extends SparkSpec {

  import scala.jdk.CollectionConverters._
  private val schema = "a array<double>, b array<double>"

  private def pairs(rows: (Seq[Double], Seq[Double])*) = {
    val data = rows.map { case (a, b) =>
      org.apache.spark.sql.Row(
        if (a == null) null else a,
        if (b == null) null else b)
    }
    spark.createDataFrame(data.asJava,
      org.apache.spark.sql.types.StructType.fromDDL(schema))
  }

  test("vec_dot / vec_sqdist match the HOF fold bit-for-bit") {
    val df = pairs(
      Seq(1.0, 2.0, 3.0) -> Seq(4.0, 5.0, 6.0),
      Seq(0.1, -0.2, 0.3333) -> Seq(1e-9, 2e9, -3.5),
      Seq.empty[Double] -> Seq.empty[Double],
      Seq(1.5) -> Seq(-2.5))
    val got = df.select(
      VectorExprs.dot(col("a"), col("b")).as("nd"),
      VectorOracle.dotHof(col("a"), col("b")).as("hd"),
      VectorExprs.sqDist(col("a"), col("b")).as("ns"),
      aggregate(zip_with(col("a"), col("b"), (x, y) => (x - y) * (x - y)),
        lit(0.0), (acc, v) => acc + v).as("hs")).collect()
    got.foreach { r =>
      assert(java.lang.Double.doubleToLongBits(r.getDouble(0)) ==
        java.lang.Double.doubleToLongBits(r.getDouble(1)))
      assert(java.lang.Double.doubleToLongBits(r.getDouble(2)) ==
        java.lang.Double.doubleToLongBits(r.getDouble(3)))
    }
  }

  test("vec_dot null semantics match zip_with padding") {
    // unequal lengths and null arrays → null, exactly like the HOF form
    val df = pairs(
      Seq(1.0, 2.0) -> Seq(1.0, 2.0, 3.0),
      (null: Seq[Double]) -> Seq(1.0))
    val got = df.select(
      VectorExprs.dot(col("a"), col("b")).as("nd"),
      VectorOracle.dotHof(col("a"), col("b")).as("hd")).collect()
    got.foreach { r => assert(r.isNullAt(0) && r.isNullAt(1)) }
  }

  test("vec_dot stays inside whole-stage codegen") {
    // a real scan (LocalTableScan is evaluated eagerly and shows no stage)
    val e = Tables.embeddings(spark, sf("sf0.001"))
      .select(col("embedding").cast("array<double>").as("a"))
    val df = e.select(VectorExprs.dot(col("a"), col("a")).as("d"))
    // `*(n)` marks operators fused into WholeStageCodegen stage n
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.linesIterator.next().trim.startsWith("*("), plan)
    assert(df.filter(col("d") <= 0).count() == 0)
  }

  test("minhash aggregator equals per-permutation relational minima") {
    val d = sf("sf0.001")
    val docs = Tables.documents(spark, d).limit(50)
    val sigs = Dedup.minhashSignatures(docs, perms = 64)
      .collect().map(r => r.getLong(0) ->
        r.getAs[scala.collection.Seq[Long]]("sig").toSeq).toMap
    // independent reference: group shingle hashes per doc in plain Scala
    val p = 2147483647L
    val ref = docs.select(col("doc_id"), col("text")).collect().map { r =>
      val toks = r.getString(1).trim.toLowerCase.split("\\s+").toSeq
      val shingles = if (toks.length >= 3) toks.sliding(3).map(_.mkString(" ")).toSeq
        else Seq(toks.mkString(" "))
      r.getLong(0) -> shingles
    }.toMap
    // reuse Spark's xxhash64 for the shingle hashes (seeded identically)
    import spark.implicits._
    val allShingles = ref.toSeq.flatMap { case (id, ss) => ss.map(id -> _) }
    val hashed = allShingles.toDF("doc_id", "s")
      .select(col("doc_id"),
        pmod(xxhash64(col("s")), lit(p)).as("h1"),
        pmod(xxhash64(col("s"), lit(1)), lit(p)).as("h2"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    val expect = hashed.groupBy(_._1).map { case (id, hs) =>
      id -> (0 until 64).map(i => hs.map { case (_, h1, h2) => h1 + i * h2 }.min)
    }
    expect.foreach { case (id, sig) => assert(sigs(id) == sig, s"doc $id") }
  }

  test("simhash aggregator equals majority-bit reference") {
    import spark.implicits._
    val docs = Seq(1L -> "a b a", 2L -> "x").toDF("doc_id", "text")
    val sigs = Dedup.simhashSignatures(docs)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val hs = docs.select(col("doc_id"),
        explode(split(trim(lower(col("text"))), "\\s+")).as("tok"))
      .select(col("doc_id"), xxhash64(col("tok")).as("h"))
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    val expect = hs.groupBy(_._1).map { case (id, rows) =>
      var sig = 0L
      (0 until 64).foreach { i =>
        val s = rows.map { case (_, h) => ((h >> i) & 1L) * 2 - 1 }.sum
        if (s > 0) sig |= 1L << i
      }
      id -> sig
    }
    expect.foreach { case (id, sig) => assert(sigs(id) == sig, s"doc $id") }
  }

  test("sketch aggregators are partitioning-invariant (merge path)") {
    val d = sf("sf0.001")
    val docs = Tables.documents(spark, d).limit(40)
    val one = Dedup.minhashSignatures(docs.coalesce(1), 64)
      .collect().map(r => r.getLong(0) -> r.getSeq[Long](1)).toMap
    val many = Dedup.minhashSignatures(docs.repartition(13), 64)
      .collect().map(r => r.getLong(0) -> r.getSeq[Long](1)).toMap
    assert(one == many)
    val s1 = Dedup.simhashSignatures(docs.coalesce(1))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val s13 = Dedup.simhashSignatures(docs.repartition(13))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(s1 == s13)
  }
}
