package graft.tools

/** Prints the formatted physical plan of named declared queries — the
  * `.explain("formatted")` feedback loop as a CLI so plan shape can be
  * inspected under any SF / shuffle-width / conf combination without a
  * REPL, in the session profile Bench times ([[graft.Session.suite]]).
  *
  * Mode `final` first runs each query's own plan to the end, dropping
  * every row as the `noop` sink Bench writes to does, and then prints
  * the plan AQE finally ran (`isFinalPlan=true`, formatted). Every other
  * mode prints the initial plan, made before any stage has run, so it
  * cannot show what AQE re-plans from the stages' sizes.
  * Usage: ExplainQ <sfDir> <name1,name2,...> [mode|final] */
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
      val df = q.fn(spark, sfDir)
      if (mode == "final") {
        df.queryExecution.toRdd.foreach(_ => ())
        df.explain("formatted")
      } else df.explain(mode)
    }
    spark.stop()
  }
}
