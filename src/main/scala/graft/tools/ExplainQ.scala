package graft.tools

/** Prints the formatted physical plan of named declared queries — the
  * `.explain("formatted")` feedback loop as a CLI so plan shape can be
  * inspected under any SF / shuffle-width / conf combination without a
  * REPL, in the session profile Bench times ([[graft.Session.suite]]).
  * Usage: ExplainQ <sfDir> <name1,name2,...> [mode] */
object ExplainQ {
  def main(args: Array[String]): Unit = {
    val sfDir = args(0)
    val names = args(1).split(",").map(_.trim).filter(_.nonEmpty)
    val mode = if (args.length > 2) args(2) else "formatted"
    val spark = graft.Session.build(graft.Session.suite())
    val byName = graft.Queries.all.map(q => q.name -> q).toMap
    names.foreach { name =>
      val q = byName.getOrElse(name, sys.error(s"ExplainQ: unknown query '$name'"))
      println(s"==== $name ====")
      q.fn(spark, sfDir).explain(mode)
    }
    spark.stop()
  }
}
