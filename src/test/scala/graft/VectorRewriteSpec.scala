package graft

import org.apache.spark.sql.functions._
import graft.plans.{GraftExtensions, RewriteVectorFolds}

/** Optimizer rewrite: HOF vector folds become native expressions. */
class VectorRewriteSpec extends SparkSpec {

  private def withRule[T](f: => T): T = {
    val prev = spark.experimental.extraOptimizations
    spark.experimental.extraOptimizations = prev :+ RewriteVectorFolds
    try f finally spark.experimental.extraOptimizations = prev
  }

  private def emb = Tables.embeddings(spark, sf("sf0.001"))
    .select(col("vec_id"), col("embedding").cast("array<double>").as("a"))

  test("aggregate(zip_with(*, +)) rewrites to vec_dot, results identical") {
    withRule {
      val df = emb.select(col("vec_id"), VectorOracle.dotHof(col("a"), col("a")).as("d"))
      val opt = df.queryExecution.optimizedPlan.toString
      assert(opt.contains("vec_dot") && !opt.contains("aggregate("), opt.take(800))
      val native = emb.select(col("vec_id"),
        graft.functions.VectorExprs.dot(col("a"), col("a")).as("d"))
      assert(df.collect().map(_.getDouble(1)).toSeq ==
        native.collect().map(_.getDouble(1)).toSeq)
    }
  }

  test("sq-diff fold rewrites to vec_sqdist; SQL form rewrites too") {
    withRule {
      val df = emb.as("x").join(emb.as("y"), col("x.vec_id") < col("y.vec_id"))
        .limit(10)
        .select(aggregate(
          zip_with(col("x.a"), col("y.a"), (p, q) => (p - q) * (p - q)),
          lit(0.0), (acc, v) => acc + v).as("d2"))
      assert(df.queryExecution.optimizedPlan.toString.contains("vec_sqdist"))
      // and via spark.sql text
      emb.createOrReplaceTempView("emb_rw")
      val sqlDf = spark.sql(
        "SELECT aggregate(zip_with(a, a, (x, y) -> x * y), 0.0D, (s, v) -> s + v) AS d " +
          "FROM emb_rw")
      assert(sqlDf.queryExecution.optimizedPlan.toString.contains("vec_dot"))
    }
  }

  test("non-matching folds are left alone") {
    withRule {
      // different zero, different combine — must NOT rewrite
      val df = emb.select(aggregate(
        zip_with(col("a"), col("a"), (x, y) => x * y),
        lit(1.0), (acc, v) => acc + v).as("d"))
      assert(!df.queryExecution.optimizedPlan.toString.contains("vec_dot"))
      val df2 = emb.select(aggregate(
        zip_with(col("a"), col("a"), (x, y) => x + y),
        lit(0.0), (acc, v) => acc + v).as("d"))
      assert(!df2.queryExecution.optimizedPlan.toString.contains("vec_dot"))
    }
  }

  test("GraftExtensions registers rule and functions on a session") {
    val e = new org.apache.spark.sql.SparkSessionExtensions
    new GraftExtensions().apply(e) // must not throw; wiring is exercised
  }
}
