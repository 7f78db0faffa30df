package graft

import org.apache.spark.sql.functions._
import graft.ops.Graph

/** PageRank: structure sanity on a star graph, mass conservation, and
  * partitioning-independence of the rounded fixpoint. */
class GraphSpec extends SparkSpec {
  import spark.implicits._

  test("star graph: hub outranks leaves; mass conserved; symmetric leaves tie") {
    val edges = (1 to 6).map(i => ("hub", s"leaf$i")).toDF("src", "dst")
    val out = Graph.pageRank(edges, "src", "dst", iters = 10).collect()
      .map(r => r.getString(0) -> (r.getLong(1), r.getDouble(2))).toMap
    assert(out("hub")._1 == 6)
    val leafRanks = (1 to 6).map(i => out(s"leaf$i")._2)
    assert(leafRanks.distinct.size == 1, "symmetric leaves must tie exactly")
    assert(out("hub")._2 > 3 * leafRanks.head)
    val mass = out.values.map(_._2).sum
    assert(math.abs(mass - 1.0) < 1e-3, s"rank mass drifted: $mass")
  }

  test("rounded fixpoint is identical under different partitionings") {
    val edges = (0 until 200).map { i =>
      (s"n${i % 37}", s"n${(i * 7 + 3) % 37}")
    }.toDF("src", "dst")
    def run(parts: Int) =
      Graph.pageRank(edges.repartition(parts), "src", "dst", iters = 5)
        .collect().map(r => r.getString(0) -> r.getDouble(2)).toMap
    assert(run(1) == run(13), "ranks must not depend on partitioning")
  }

  test("deep iteration completes with bounded plan depth (periodic checkpoint)") {
    val edges = (0 until 100).map(i => (s"n${i % 23}", s"n${(i * 5 + 1) % 23}"))
      .toDF("src", "dst")
    // 25 iterations: without lineage truncation the doubled-per-iteration
    // plan makes analysis/codegen explode; with checkpointEvery the final
    // plan covers at most checkpointEvery iterations
    val deep = Graph.pageRank(edges, "src", "dst", iters = 25)
    val planLines = deep.queryExecution.optimizedPlan.toString.linesIterator.size
    val shallow = Graph.pageRank(edges, "src", "dst", iters = 4)
    val shallowLines =
      shallow.queryExecution.optimizedPlan.toString.linesIterator.size
    assert(planLines <= 3 * shallowLines,
      s"25-iter plan ($planLines lines) not truncated vs 4-iter ($shallowLines)")
    val mass = deep.collect().map(_.getDouble(2)).sum
    assert(math.abs(mass - 1.0) < 1e-3, s"rank mass drifted: $mass")
    // reliable-checkpoint path: same result through a checkpoint dir
    val dir = java.nio.file.Files.createTempDirectory("graft-pr-ckpt").toString
    spark.conf.set(graft.ops.Materialize.ConfKey, dir)
    val viaDir = try Graph.pageRank(edges, "src", "dst", iters = 25).collect()
      .map(r => r.getString(0) -> r.getDouble(2)).toMap
    finally spark.conf.unset(graft.ops.Materialize.ConfKey)
    val viaLocal = deep.collect().map(r => r.getString(0) -> r.getDouble(2)).toMap
    assert(viaDir == viaLocal, "reliable and local checkpoints must agree")
  }

  test("malformed gc-nudge conf falls back to the default, never crashes") {
    // r12 ADVICE: a tuning knob must not be a query-crashing input —
    // 'off', '1e9', '' all parse to None and use the parameter default
    val edges = Seq(("a", "b"), ("b", "c")).toDF("src", "dst")
    for (bad <- Seq("off", "1e9", "", "  ")) {
      spark.conf.set(Graph.GcNudgeConfKey, bad)
      try {
        val out = Graph.pageRank(edges, "src", "dst", iters = 2).collect()
        assert(out.length == 3)
      } finally spark.conf.unset(Graph.GcNudgeConfKey)
    }
    // a well-formed override still parses
    spark.conf.set(Graph.GcNudgeConfKey, Long.MaxValue.toString)
    try {
      assert(Graph.pageRank(edges, "src", "dst", iters = 2)
        .collect().length == 3)
    } finally spark.conf.unset(Graph.GcNudgeConfKey)
  }

  test("shuffle-hash big path == broadcast small path, bit-identical") {
    // r17: the >broadcastNodes path (sf100's) hints SHUFFLE_HASH on the
    // rank-side joins; forcing it via broadcastNodes = 0 on a graph the
    // small path also handles pins the two plans output-identical — the
    // rounded fixpoint must not depend on the join strategy
    val edges = (0 until 300).map { i =>
      (s"n${i % 41}", s"n${(i * 11 + 5) % 41}")
    }.toDF("src", "dst")
    def run(bc: Long) =
      Graph.pageRank(edges, "src", "dst", iters = 5, broadcastNodes = bc)
        .collect().map(r => (r.getString(0), r.getLong(1), r.getDouble(2)))
        .sortBy(_._1).toSeq
    val viaShj = run(0L)
    val viaBc = run(1000000L)
    assert(viaShj == viaBc, "join strategy changed the fixpoint")
    // and the big path really plans shuffled-hash, not sort-merge
    val plan = Graph.pageRank(edges, "src", "dst", iters = 1,
      broadcastNodes = 0L).queryExecution.executedPlan.toString
    assert(plan.contains("ShuffledHashJoin"), s"no SHJ in plan:\n$plan")
  }

  test("duplicate and self edges collapse before degrees are counted") {
    val edges = Seq(("a", "b"), ("a", "b"), ("b", "a"), ("a", "a"), ("b", "c"))
      .toDF("src", "dst")
    val out = Graph.pageRank(edges, "src", "dst", iters = 3).collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(out == Map("a" -> 1L, "b" -> 2L, "c" -> 1L), out)
  }
}
