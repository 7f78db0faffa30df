package graft

import java.nio.file.Files
import org.apache.hadoop.fs.Path
import org.apache.parquet.example.data.simple.SimpleGroup
import org.apache.parquet.hadoop.example.ExampleParquetWriter
import org.apache.parquet.schema.MessageTypeParser
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** The contract of [[Tables.load]]'s schema memo: a table's first read
  * infers its schema as `spark.read.parquet` does, later reads start no
  * Spark job, and a rewritten table, a changed inference conf or a second
  * load for a self-join each still get what a plain read would give. */
class TablesLoadSpec extends JobCounting {
  private val d = sf("sf0.001")

  private def tmpDir(prefix: String): String =
    Files.createTempDirectory(prefix).toString

  test("a second load of a table starts no Spark job") {
    import spark.implicits._
    val dir = tmpDir("graft-load")
    Seq((1L, "a"), (2L, "b")).toDF("id", "name").write.parquet(s"$dir/t.parquet")
    val (_, first) = jobs("first")(Tables.load(spark, dir, "t"))
    assert(first >= 1, "the first read should infer the schema with a job")
    val (df, second) = jobs("second")(Tables.load(spark, dir, "t"))
    assert(second === 0)
    assert(df.orderBy("id").as[(Long, String)].collect().toSeq === Seq((1L, "a"), (2L, "b")))
  }

  test("every test table loads with the schema a plain parquet read infers") {
    for (t <- Tables.names) {
      Tables.load(spark, d, t)
      val (df, n) = jobs(s"schema-$t")(Tables.load(spark, d, t))
      assert(n === 0, s"$t: memoized load started $n jobs")
      assert(df.schema === spark.read.parquet(s"$d/$t.parquet").schema, t)
    }
  }

  test("a table overwritten at the same path is read with its new schema") {
    import spark.implicits._
    val dir = tmpDir("graft-rewrite")
    Seq((1L, "a")).toDF("id", "name").write.parquet(s"$dir/t.parquet")
    Tables.load(spark, dir, "t")
    assert(Tables.load(spark, dir, "t").columns.toSeq === Seq("id", "name"))
    Seq((7L, 2.5)).toDF("id", "score").write.mode("overwrite").parquet(s"$dir/t.parquet")
    val df = Tables.load(spark, dir, "t")
    assert(df.schema === spark.read.parquet(s"$dir/t.parquet").schema)
    assert(df.as[(Long, Double)].collect().toSeq === Seq((7L, 2.5)))
  }

  /** A one-row, one-column parquet table written by parquet-mr itself:
    * no Spark schema in the footer, so inference reads the parquet types
    * and the session's inference confs decide the Spark type. */
  private def rawTable(column: String, write: SimpleGroup => Unit): String = {
    val dir = tmpDir("graft-raw")
    val schema = MessageTypeParser.parseMessageType(s"message m { $column; }")
    val w = ExampleParquetWriter
      .builder(new Path(s"$dir/t.parquet/part-00000.parquet"))
      .withConf(spark.sparkContext.hadoopConfiguration)
      .withType(schema).build()
    val row = new SimpleGroup(schema)
    write(row)
    try w.write(row) finally w.close()
    dir
  }

  test("flipping nanosAsLong re-infers instead of returning the memoized schema") {
    val dir = rawTable("required int64 ts (TIMESTAMP(NANOS,true))", _.append("ts", 1000L))
    val s = spark.newSession()
    val key = "spark.sql.legacy.parquet.nanosAsLong"
    s.conf.set(key, "true")
    Tables.load(s, dir, "t")
    assert(Tables.load(s, dir, "t").schema("ts").dataType === LongType)
    // without nanosAsLong Spark has no type for TIMESTAMP(NANOS): a fresh
    // inference fails, where a memo hit would have returned LongType
    s.conf.set(key, "false")
    val e = intercept[Exception](Tables.load(s, dir, "t"))
    assert(messages(e).exists(_.contains("TIMESTAMP(NANOS")), messages(e))
    s.conf.set(key, "true")
    assert(Tables.load(s, dir, "t").head().getLong(0) === 1000L)
  }

  test("flipping binaryAsString re-infers the column's type") {
    val dir = rawTable("required binary b", _.append("b", "hi"))
    val s = spark.newSession()
    val key = "spark.sql.parquet.binaryAsString"
    s.conf.set(key, "false")
    Tables.load(s, dir, "t")
    assert(Tables.load(s, dir, "t").schema("b").dataType === BinaryType)
    s.conf.set(key, "true")
    val df = Tables.load(s, dir, "t")
    assert(df.schema("b").dataType === StringType)
    assert(df.head().getString(0) === "hi")
  }

  test("two loads of one table are distinct relations, so a self-join resolves") {
    val a = Tables.lineitem(spark, d)
    val b = Tables.lineitem(spark, d)
    val ids = (x: DataFrame) =>
      x.queryExecution.analyzed.output.map(_.exprId).toSet
    assert((ids(a) intersect ids(b)).isEmpty)
    def selfJoin(x: DataFrame, y: DataFrame) = x.as("a").join(y.as("b"),
      col("a.l_orderkey") === col("b.l_orderkey") &&
        col("a.l_linenumber") === col("b.l_linenumber"))
        .agg(count(lit(1)), sum(col("a.l_quantity") - col("b.l_quantity")))
    val plain = () => spark.read.parquet(s"$d/lineitem.parquet")
    assert(selfJoin(a, b).head() === selfJoin(plain(), plain()).head())
  }

  test("building a sql_sf01 probe query a second time starts no Spark job") {
    for (name <- SqlProbes.names) {
      val q = Queries.all.find(_.name == name).get
      q.fn(spark, d)
      val (_, n) = jobs(s"build-$name")(q.fn(spark, d))
      assert(n === 0, s"$name: building the query started $n jobs")
    }
  }

  test("a fresh JVM that builds and runs the sql_sf01 probe queries loads no SQL parser") {
    // the first cold query would otherwise pay the parser's ~1,000 class
    // loads: a cast by type name (`cast("double")`) parses the name
    val dir = Files.createTempDirectory("graft-probe-parser")
    val loaded = ChildJvm.classesLoaded(dir, "graft.SqlProbes", d)
    if (loaded.contains(ChildJvm.Parser)) fail(s"${ChildJvm.Parser} loaded (see $dir)")
  }

  private def messages(e: Throwable): Seq[String] =
    Iterator.iterate(e)(_.getCause).takeWhile(_ != null)
      .map(x => String.valueOf(x.getMessage)).toSeq
}

/** The five queries `perfbench`'s `sql_sf01` workload times. As a main:
  * builds each over the tables in `args(0)` and runs it into the `noop`
  * sink, as the benchmark does, in a two-core session of its own. */
object SqlProbes {
  val names: Seq[String] = Seq("q08_vote_groups", "q13_topk", "q25_sessionize",
    "q41_topk_perkey", "q54_skew_salted_join")

  def main(args: Array[String]): Unit = {
    val spark = Session.build(Session.suite(Map("SPARK_GRAFT_CPUS" -> "2")))
    for (name <- names)
      Queries.all.find(_.name == name).get.fn(spark, args(0))
        .write.format("noop").mode("overwrite").save()
    spark.stop()
  }
}
