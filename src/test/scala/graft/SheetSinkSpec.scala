package graft

import java.nio.file.Files
import org.apache.spark.sql.AnalysisException
import org.apache.spark.sql.functions._
import graft.sources.SheetBackend

/** The `sheet` connector: truncate+overwrite write path from the driver,
  * read path for the dry-run diff, short-name registration. */
class SheetSinkSpec extends JobCounting {

  test("write is clear+update with header; sorted input keeps order") {
    import spark.implicits._
    val dir = Files.createTempDirectory("sheet").toString
    val df = Seq((5417L, "Loto", 1000L), (5417L, "Desquite", 510L))
      .toDF("sorteo", "categoria", "pozo_clp")
      .orderBy("categoria")
      .select(col("sorteo").cast("string"), col("categoria"), col("pozo_clp").cast("string"))
    df.write.format("sheet").option("path", dir).option("worksheet", "canon")
      .mode("append").save()
    val rows = SheetBackend.readRows(dir, "canon")
    assert(rows.head == Seq("sorteo", "categoria", "pozo_clp"))
    assert(rows.drop(1) == Seq(
      Seq("5417", "Desquite", "510"), Seq("5417", "Loto", "1000")))

    // second write truncates (clear+update), never appends
    Seq(("1", "X", "9")).toDF("sorteo", "categoria", "pozo_clp")
      .write.format("sheet").option("path", dir).option("worksheet", "canon")
      .mode("append").save()
    val after = SheetBackend.readRows(dir, "canon")
    assert(after.length == 2)
    assert(after(1) == Seq("1", "X", "9"))
  }

  test("read path round-trips for the dry-run diff") {
    import spark.implicits._
    val dir = Files.createTempDirectory("sheet").toString
    Seq(("a", "1"), ("b", "2")).toDF("k", "v")
      .write.format("sheet").option("path", dir).option("worksheet", "w").mode("append").save()
    val back = spark.read.format("sheet")
      .option("path", dir).option("worksheet", "w").load()
    assert(back.schema.fieldNames.toSeq == Seq("k", "v"))
    assert(back.orderBy("k").collect().map(_.toSeq).toSeq ==
      Seq(Seq("a", "1"), Seq("b", "2")))
  }

  test("nulls become empty cells") {
    import spark.implicits._
    val dir = Files.createTempDirectory("sheet").toString
    Seq((Some("x"), Option.empty[String])).toDF("a", "b")
      .write.format("sheet").option("path", dir).option("worksheet", "n").mode("append").save()
    assert(SheetBackend.readRows(dir, "n")(1) == Seq("x", ""))
  }

  test("non-string cells are written as cast(... as string), null as empty") {
    import spark.implicits._
    val dir = Files.createTempDirectory("sheet").toString
    Seq((java.sql.Date.valueOf("2026-01-02"), 1.5, BigDecimal("12.30"), true,
        Seq(1L, 2L), Option.empty[Int], Option(7)))
      .toDF("d", "x", "m", "b", "a", "none", "some")
      .write.format("sheet").option("path", dir).option("worksheet", "t").mode("append").save()
    assert(SheetBackend.readRows(dir, "t")(1) ==
      Seq("2026-01-02", "1.5", "12.300000000000000000", "true", "[1, 2]", "", "7"))
  }

  test("Overwrite clears and updates; ErrorIfExists and Ignore fail and write nothing") {
    import spark.implicits._
    val dir = Files.createTempDirectory("sheet").toString
    def write(mode: String, v: String): Unit = Seq(v).toDF("v")
      .write.format("sheet").option("path", dir).option("worksheet", "m").mode(mode).save()
    write("append", "1")
    write("overwrite", "2")
    assert(SheetBackend.readRows(dir, "m") == Seq(Seq("v"), Seq("2")))
    for ((mode, name) <- Seq("errorifexists" -> "ErrorIfExists", "ignore" -> "Ignore")) {
      val e = intercept[AnalysisException](write(mode, "3"))
      assert(e.getCondition == "UNSUPPORTED_DATA_SOURCE_SAVE_MODE", e.getMessage)
      assert(e.getMessage.contains(s""""$name" mode"""), e.getMessage)
    }
    assert(SheetBackend.readRows(dir, "m") == Seq(Seq("v"), Seq("2")))
  }

  test("an empty input writes the header only") {
    import spark.implicits._
    val dir = Files.createTempDirectory("sheet").toString
    Seq.empty[(String, Long)].toDF("categoria", "pozo_clp")
      .write.format("sheet").option("path", dir).option("worksheet", "e").mode("append").save()
    assert(Files.readString(SheetBackend.file(dir, "e")) == "categoria\tpozo_clp\n")
  }

  test("a 4-partition, non-local input lands in partition order in one job") {
    val dir = Files.createTempDirectory("sheet").toString
    val df = spark.range(0, 20, 1, 4).select(col("id"), (col("id") * 2).as("x"))
    assert(df.rdd.getNumPartitions == 4)
    val (_, n) = jobs("write-distributed")(
      df.write.format("sheet").option("path", dir).option("worksheet", "p").mode("append").save())
    assert(n == 1, s"the write started $n jobs")
    assert(SheetBackend.readRows(dir, "p") ==
      Seq(Seq("id", "x")) ++ (0 until 20).map(i => Seq(i.toString, (2 * i).toString)))
  }
}
