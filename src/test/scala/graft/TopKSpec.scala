package graft

import graft.plans.GroupedTopK

/** Grouped top-k on one hot key: the exact answer, and the per-key
  * final step (ExactTopK, the window's place) reads the pruned frame. */
class TopKSpec extends SparkSpec {

  test("hot key: exact answer, and the window input is the pruned frame") {
    import spark.implicits._
    // one hot key with 10k rows across 4 partitions — the window form
    // would sort all 10k; perKey's shuffle input is ≤ k·partitions rows
    val hot = (1 to 10000).map(i => (1L, i.toLong)).toDF("k", "v").repartition(4)
    val out = GroupedTopK.perKey(hot, "k", Seq("v" -> true), k = 5)
    assert(out.collect().map(_.getLong(1)).sorted.toSeq == Seq(1L, 2L, 3L, 4L, 5L))
    // plan shape: the exchange feeding ExactTopK sits above the
    // PartialTopK prune, not above the raw scan
    val plan = out.queryExecution.executedPlan.toString
    val exactIdx = plan.indexOf("ExactTopK")
    val exchangeIdx = plan.indexOf("Exchange hashpartitioning(k")
    val partialIdx = plan.indexOf("PartialTopK")
    assert(exactIdx >= 0 && exchangeIdx > exactIdx && partialIdx > exchangeIdx,
      plan.take(2000))
  }
}
