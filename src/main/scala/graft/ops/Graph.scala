package graft.ops

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Iterative graph compute over edge DataFrames — the family next to
  * [[Dedup.connectedComponents]] (pointer-doubling): PageRank by power
  * iteration with a FIXED iteration count.
  *
  * Determinism contract: every iteration's ranks are rounded to 6
  * decimals before feeding the next one. The per-node contribution sum
  * is a shuffle aggregation whose float addition order is
  * partition-dependent (~1e-15 relative noise); rounding far above the
  * noise floor resets the drift each iteration, so the fixpoint is
  * bit-identical across partitionings AND engines — the same
  * round-before-compare policy the consensus pipeline uses.
  *
  * Scale shape: the edge list is symmetrized and deduped once (one
  * shuffle); each iteration is one join of edges against the previous
  * O(nodes) rank frame (both sides partitioned by the join key) and one
  * partial-aggregated shuffle of contributions — nothing iterates on the
  * driver except the loop counter, and no action runs until the caller
  * materializes (the q51 lesson: per-iteration driver actions are the
  * scale-killer, lazy chaining is fine at fixed depth).
  */
object Graph {

  /** Spark conf that overrides [[pageRank]]'s GC-nudge node threshold
    * ([[GcNudgeNodes]]) — the no-code-change switch for operators sharing
    * a driver (see the nudge-gate comment inside pageRank). */
  val GcNudgeConfKey = "graft.pagerank.gcNudgeNodes"

  /** The node count above which [[pageRank]] runs its shuffle-lifetime
    * discipline, unless [[GcNudgeConfKey]] overrides it. */
  private val GcNudgeNodes = 24000000L

  /** PageRank over the UNDIRECTED graph induced by `edges` (symmetrized,
    * self-loops dropped, duplicate edges collapsed). Every node in the
    * edge list has degree ≥ 1, so there are no dangling nodes and the
    * simple update rank = (1−d)/n + d·Σ rank(nb)/deg(nb) conserves mass.
    * Output: (node, deg, rank) with rank rounded 6.
    *
    * `broadcastNodes`: when the node count (a driver scalar this op
    * already paid for) is at or below this, the per-iteration rank and
    * contribution frames are broadcast instead of shuffle-joined — the
    * iteration collapses from three exchanges to the one unavoidable
    * contribution aggregation. The optimizer can't make this call itself
    * (post-join frames carry no stats), but it is the same size-based
    * decision AQE applies, made with exact knowledge. Above the
    * threshold every join shuffles — the 100 TB path.
    *
    * `checkpointEvery`: lazy chaining doubles the logical plan per
    * iteration — fine analysis-wise to ~20 deep — but the REAL scale
    * reason to materialize is SHUFFLE-FILE LIFETIME (learned at sf100,
    * r11): every iteration's contribution exchange stays referenced by
    * the lazy plan until the final action, so a 5-iteration run over a
    * 1.2 B-edge list accumulated 43 GB of live shuffle files and died
    * on disk. On a BIG graph (nodes > [[GcNudgeNodes]]) the cadence is
    * clamped to every 2 iterations and each materialization is followed
    * by a driver-GC nudge: lineage truncation makes the superseded
    * iterations' ShuffleDependencies unreachable, and ContextCleaner
    * deletes their files WHILE the query runs — the same
    * periodic-checkpoint discipline GraphX's Pregel documents. The
    * ranks frame is O(nodes), so the extra materializations are noise
    * next to any one edge pass; at small SF neither the clamp nor the
    * GC runs (measured +2 s of pure GC wall on the 0.6 s sf0.1 query).
    * Checkpoints follow [[Materialize]]: the `graft.checkpoint.dir` conf
    * selects reliable `checkpoint()` over executor-local blocks
    * (`localCheckpoint`): local blocks die with an executor, and on a
    * 1000-executor run losing one mid-power-iteration kills the job. */
  def pageRank(edges: DataFrame, srcCol: String, dstCol: String,
      iters: Int = 5, damping: Double = 0.85,
      broadcastNodes: Long = 1000000L, checkpointEvery: Int = 8): DataFrame = {
    require(checkpointEvery >= 1, "checkpointEvery must be >= 1")
    // materialized once: every iteration joins against these, and the
    // lazy lineage would re-derive the upstream edge join per iteration
    // (the op is already eager — n below is an action — so this adds no
    // extra job, it just pins the frame the loop reuses).
    // PARTITIONED BY src BEFORE the checkpoint. The r11 note here
    // claimed checkpoint preserves partitioning — r17 MEASURED that it
    // does NOT under AQE: both localCheckpoint and reliable checkpoint
    // scan back as `Scan ExistingRDD` with UnknownPartitioning and no
    // ordering (.explain at sf10), so each iteration re-derives the
    // edge-side distribution. Two things keep that cheap: runtime
    // exchange reuse dedupes the per-iteration edge exchanges (the
    // canonicalized subtrees are identical — one ~edge-sized exchange
    // runs post-checkpoint, not one per iteration; stage-logged at
    // sf10), and the SHUFFLE_HASH hint below keeps the consumer
    // sort-free (the SMJ default re-SORTED the full edge list per
    // iteration — the 285 GB/run sf100 spill, see maybeBc). The
    // repartition(src) before the window is still right: the window
    // dedup needs src-clustering anyway, and early reduction halves
    // what the checkpoint pins.
    //
    // ONE exchange, not two (r11, learned at sf100): `distinct()` hashes
    // on (src, dst) and a `repartition(src)` after it is a SECOND full
    // edge-sized exchange — and every shuffle in this build chain stays
    // live until the materialize action completes, so at sf100 the
    // distinct+repartition pair alone held ~30 GB of shuffle files the
    // cleaner could not touch mid-job. Instead: repartition by src once,
    // then dedupe with a window that NEEDS only src-clustering — the
    // planner satisfies `Window.partitionBy("src")` with the existing
    // hashpartitioning(src), so dedup costs an in-partition sort, zero
    // extra exchange. Rows with equal (src, dst) are identical 2-column
    // rows, so keep-first is deterministic whatever physical row wins.
    val dedupW = Window.partitionBy("src").orderBy("dst")
    val und = Materialize(edges
      .select(col(srcCol).as("src"), col(dstCol).as("dst"))
      .unionAll(edges.select(col(dstCol).as("src"), col(srcCol).as("dst")))
      .filter(col("src") =!= col("dst"))
      .repartition(col("src"))
      .withColumn("_prev", lag("dst", 1).over(dedupW))
      .filter(col("_prev").isNull || col("_prev") =!= col("dst"))
      .drop("_prev"))
    val degs = Materialize(und.groupBy("src").agg(count(lit(1)).as("deg"))
      .select(col("src").as("node"), col("deg")))
    val n = degs.count() // driver scalar
    // an empty graph (a pushed-down filter or pruned partition can
    // legitimately leave zero edges) has no 1/n to take — return the
    // (node, deg, rank) schema with zero rows instead of dividing
    if (n == 0) return degs.withColumn("rank", lit(0.0))
    val small = n <= broadcastNodes
    // Above the broadcast threshold the rank-side frames are hinted
    // SHUFFLE_HASH, not left to the planner's default sort-merge (r17,
    // the containment-class autopsy of the sf100 1175 s floor): a
    // checkpointed frame scans back as `Scan ExistingRDD` with
    // UnknownPartitioning and NO output ordering under AQE — measured
    // via .explain at sf10, both localCheckpoint and reliable — so the
    // per-iteration SMJ re-SORTED the full symmetrized edge list every
    // iteration: 5 in-partition sorts of a ~1.1 B-row frame ≈ the
    // 285 GB/run memory spill the r16 isolated probe recorded
    // (evidence/r16/isoprobe_pagerank_sf100.log) while total shuffle
    // stayed ~52 GB (runtime exchange reuse dedupes the 5 identical
    // canonicalized edge exchanges; the sorts sit ABOVE the exchange and
    // cannot be reused). A shuffled-hash join STREAMS the edge side
    // unsorted and hash-builds the rank side — nodes/width rows per
    // task (sf100: 16 M/1024 ≈ 16 k), and the build side scales as
    // width grows with the graph, so the 1000-executor shape holds.
    def maybeBc(df: DataFrame): DataFrame =
      if (small) broadcast(df) else df.hint("shuffle_hash")
    // The shuffle-lifetime discipline below (frequent materialization +
    // driver-GC nudges so ContextCleaner frees superseded shuffle files
    // MID-query) earns its keep only when an edge pass is disk-scale.
    // The gate is deliberately NOT the broadcast threshold: a full
    // System.gc() is priced by the LIVE HEAP, not by this query — in
    // local mode (driver = executor = one 64 g heap, mid-suite) each
    // nudge measured 10-20 s of stop-the-world, which took the sf10
    // query (1.6 M nodes, ~4 GB shuffle, zero disk pressure) from 43 s
    // to 147 s when the nudges keyed off broadcastNodes. Disk lifetime
    // only matters when one edge pass is tens of GB — sf100 here
    // (16 M nodes, 42 GB shuffle, died twice without the nudges). On a
    // real cluster the nudge runs on the small driver heap and is
    // cheap; the price is purely a local-mode artifact, but the bench
    // IS local, so the gate must respect it.
    // Gate history: 8 M through r16, calibrated when an edge pass was
    // ~42 GB of two ~20-byte strings; r17's long-keyed declared query
    // shrank the same pass ~3× and the sf100 stage log showed the
    // discipline pure cost at 16 M nodes (three ~30 s-wall stages with
    // ~14 s of run = the gc pauses + mid-loop rank checkpoints, freeing
    // ~10 GB a 56 GB-free disk didn't need) — so the default scales
    // with the row-width cut, 8 M → 24 M. The conf override remains the
    // operational escape hatch either way.
    // Operational escape hatch (r11 ADVICE): System.gc() is JVM-GLOBAL —
    // in a shared driver serving concurrent queries the stop-the-world
    // pause stalls unrelated work, and the call site may not be editable
    // (a declared query, a notebook). The spark conf overrides the
    // threshold without code changes; set it to Long.MaxValue (e.g.
    // spark.conf.set(Graph.GcNudgeConfKey, "9223372036854775807")) to
    // disable the nudges entirely, or lower it to force the disk-scale
    // discipline on a smaller graph.
    // A malformed conf value must not turn a tuning knob into a
    // query-crashing input: fall back to the default with a warning.
    val nudgeLimit = edges.sparkSession.conf
      .getOption(Graph.GcNudgeConfKey)
      .flatMap { raw =>
        val parsed = raw.trim.toLongOption
        if (parsed.isEmpty) org.slf4j.LoggerFactory.getLogger(getClass).warn(
          s"${Graph.GcNudgeConfKey}='$raw' is not a long; " +
            s"using default $GcNudgeNodes")
        parsed
      }
      .getOrElse(GcNudgeNodes)
    val big = n > nudgeLimit
    val ckptEvery = if (big) math.min(checkpointEvery, 2) else checkpointEvery
    if (big) System.gc() // release the und/degs build shuffles' files
    val base = (lit(1.0) - lit(damping)) / lit(n.toDouble)
    var ranks = degs.withColumn("rank", round(lit(1.0) / lit(n.toDouble), 6))
    for (i <- 1 to iters) {
      val sums = und
        .join(maybeBc(ranks), und("src") === ranks("node"))
        .select(col("dst"), (col("rank") / col("deg")).as("c"))
        .groupBy("dst").agg(sum("c").as("s"))
      ranks = degs
        .join(maybeBc(sums), degs("node") === sums("dst"), "left")
        .select(col("node"), col("deg"),
          round(base + lit(damping) * coalesce(col("s"), lit(0.0)), 6)
            .as("rank"))
      // lineage truncation: without it the plan doubles per iteration
      // (rounding makes the materialized values bit-stable, so this
      // cannot change the result — only the plan). The GC nudge is what
      // actually RELEASES the superseded iterations' shuffle files
      // mid-query (see the checkpointEvery Scaladoc) — ContextCleaner
      // acts on reference collection, which needs a driver GC to happen.
      if (i % ckptEvery == 0 && i < iters) {
        ranks = Materialize(ranks)
        if (big) System.gc()
      }
    }
    ranks
  }
}
