package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Approximate-nearest-neighbor search over an embedding column.
  *
  * Scale design: the query set is small and `broadcast()` — the corpus is
  * scanned exactly once, with per-row arithmetic in higher-order functions
  * (no UDF, no driver collect). Top-k uses a window per query id; at scale
  * replace with per-partition top-k + final merge (same plan shape Spark
  * derives for `ORDER BY ... LIMIT k` via TakeOrderedAndProject).
  *
  * The IVF variant buckets vectors by the sign pattern of the first
  * `signBits` dimensions (a fixed random-hyperplane-style partition) and
  * probes only the query's bucket: the join becomes an equi-join on the
  * bucket id, shuffling 1/2^signBits of the pairs.
  */
object Similarity {

  /** Sequential-fold dot product — same accumulation order every engine
    * uses for a plain loop, so results are bit-stable. Codegen'd native
    * expression ([[graft.functions.VecDot]]); the higher-order-function
    * form it replaced is interpreted per row and breaks whole-stage
    * codegen on the pair-scoring hot path. The test-tree `VectorOracle` keeps
    * that form for the equivalence specs. */
  def dot(a: Column, b: Column): Column = graft.functions.VectorExprs.dot(a, b)

  def norm(a: Column): Column = sqrt(dot(a, a))

  def cosine(a: Column, b: Column): Column = dot(a, b) / (norm(a) * norm(b))

  /** Deterministic hash embedding — the in-sandbox STAND-IN for a model
    * encoder (no inference runtime here; swap for a real encoder UDF in
    * production, the downstream chunk→embed→ANN plumbing is unchanged).
    * Dim j = scaled 60-bit md5 of `text # j`, uniform in [-1, 1] —
    * map-only, reproducible by any engine with md5, so the full RAG
    * pipeline stays oracle-checkable.
    *
    * `text` must be a MATERIALIZED column (attribute), not an inline
    * expression: lambda bodies don't CSE with the outer plan, so an
    * inline expression would recompute once per dimension. */
  def hashEmbed(text: Column, dim: Int): Column =
    transform(sequence(lit(0), lit(dim - 1)), j =>
      pmod(Dedup.md5Long(concat(text, lit("#"), j.cast("string"))), lit(2001L))
        .cast("double") / 1000.0 - 1.0)

  private def asDouble(c: Column): Column = c.cast("array<double>")

  /** Brute-force cosine top-k: every query vector against the whole corpus.
    * Output: q_id, c_id, sim (rounded 4), rank. */
  def bruteForceTopK(queries: DataFrame, corpus: DataFrame, k: Int = 10): DataFrame = {
    val q = queries.select(col("vec_id").as("q_id"), asDouble(col("embedding")).as("q_emb"))
    val c = corpus.select(col("vec_id").as("c_id"), asDouble(col("embedding")).as("c_emb"))
    val scored = c.crossJoin(broadcast(q))
      .filter(col("q_id") =!= col("c_id"))
      .select(col("q_id"), col("c_id"),
        round(cosine(col("q_emb"), col("c_emb")), 4).as("sim"))
    val w = Window.partitionBy("q_id").orderBy(col("sim").desc, col("c_id").asc)
    scored.withColumn("rank", row_number().over(w)).filter(col("rank") <= k)
  }

  /** Sign-pattern bucket id over the first `signBits` dimensions. */
  def signBucket(emb: Column, signBits: Int = 8): Column =
    (0 until signBits).foldLeft(lit(0L)) { (acc, i) =>
      acc.bitwiseOR(when(emb.getItem(i) >= 0, lit(1L << i)).otherwise(lit(0L)))
    }

  /** Corpus-scaled sign-bucket width (the `dedup_embedding_cosine_w`
    * formula, factored out r17 so a spec can pin its boundaries):
    * b = 8 + |{j ∈ 1..16 : n > 100·2^(7+j)}| — pure integer comparisons
    * so Spark (parquet footer count) and DuckDB (COUNT(*)) derive the
    * IDENTICAL width with no float log2 edge cases. Monotone step
    * thresholds: n ≤ 25 600 → 8; > 25 600 → 9; > 51 200 → 10; …;
    * > 838 860 800 → 24 (≤ the 64-dim embeddings). Expected in-bucket
    * pair volume stays ~linear per decade instead of the fixed-width
    * query's quadratic. */
  def corpusScaledSignBits(n: Long): Int =
    8 + (1 to 16).count(j => n > 100L * (1L << (7 + j)))

  /** Corpus-scaled cell count for [[semanticDedup]] (the
    * `semantic_dedup_w` formula — the cosine_w treatment applied to the
    * k-means blocking): k = 16 · 2^|{j ∈ 1..10 : n > 100·2^(7+j)}|,
    * the SAME integer step thresholds as [[corpusScaledSignBits]] so
    * Spark (parquet footer count) and DuckDB (COUNT(*)) derive the
    * IDENTICAL k with no float log2 edge cases. k doubles each time the
    * corpus does, so the expected in-cell pair volume ~n²/(2k) grows
    * LINEARLY per decade instead of quadratically — SemDeDup itself
    * (arXiv:2303.09540) scales cluster count with corpus size for
    * exactly this reason. Steps: n ≤ 25 600 → 16; > 25 600 → 32;
    * > 51 200 → 64; …; > 13 107 200 → 16 384 (cap — the k×dim centroid
    * matrix collected per Lloyd step stays ≤ 16 384 × 64 doubles
    * ≈ 8 MB, control-plane sized). At the committed gate SFs n ≤ 500
    * keeps k = 16 ≡ the declared fixed-cell query; sf10 (200 k vectors)
    * is the first SF where the branches diverge (k = 128). */
  def corpusScaledNCells(n: Long): Int =
    16 << (1 to 10).count(j => n > 100L * (1L << (7 + j)))

  /** The DuckDB/Spark-SQL CASE chain computing [[signBucket]] at a
    * row-provided width column `b`, as SQL text — ONE generator feeds
    * both the committed oracle SQL (`idxBase = 1`, DuckDB lists are
    * 1-based) and the parity spec that evaluates the same text in Spark
    * SQL (`idxBase = 0`), so the two engines' bucket construction cannot
    * silently diverge from hand-maintained copies. */
  def signBucketCaseSql(maxBits: Int, idxBase: Int): String =
    (0 until maxBits)
      .map(i => s"(CASE WHEN $i < b AND emb[${i + idxBase}] >= 0 THEN ${1 << i} ELSE 0 END)")
      .mkString(" + ")

  /** IVF index: `k` centroids seeded from the first vectors (by vec_id,
    * deterministic) and refined with `iters` Lloyd steps — all as
    * DataFrame aggregations; only the k×dim centroid matrix ever reaches
    * the driver. */
  def ivfCentroids(corpus: DataFrame, k: Int = 16, iters: Int = 1): Seq[(Int, Seq[Double])] = {
    val c = corpus.select(col("vec_id"), asDouble(col("embedding")).as("emb"))
    var centroids: Seq[(Int, Seq[Double])] = c.orderBy("vec_id").limit(k).collect()
      .zipWithIndex.map { case (r, i) =>
        i -> r.getAs[scala.collection.Seq[Double]]("emb").toSeq
      }.toSeq
    // an empty corpus seeds zero centroids; the Lloyd loop (and every
    // caller's assignExpr) requires at least one — callers translate an
    // empty centroid set into an empty result with their output schema
    if (centroids.isEmpty) return Seq.empty
    for (_ <- 0 until iters) {
      val assigned = c.withColumn("cid", assignExpr(col("emb"), centroids))
      // per-(cluster, dim) mean with O(1) aggregation state: a plain
      // partially-aggregated double sum, ROUNDed to 6 dp — the PageRank
      // determinism contract ([[graft.ops.Graph.pageRank]]): summation-
      // order drift is O(1e-15) relative and the rounding collapses it,
      // so the centroid is engine- and partitioning-reproducible while
      // the agg carries one double per group instead of materializing
      // every member value (the r8 array_sort(collect_list) form — the
      // main cost of sim_ivf_ann's 4.8× local ratio). The k×dim mean
      // matrix is assembled on the driver from the k·dim result rows —
      // control-plane sized, same footprint as the centroids themselves.
      val means = assigned
        .select(col("cid"), posexplode(col("emb")).as(Seq("i", "x")))
        .groupBy("cid", "i")
        .agg(round(sum(col("x")) / count(lit(1)), 6).as("m"))
        .collect()
        .groupBy(_.getInt(0))
        .map { case (cid, rows) =>
          cid -> rows.sortBy(_.getInt(1)).map(_.getDouble(2)).toSeq
        }
      // clusters that lost all members keep their previous centroid
      centroids = centroids.map { case (cid, prev) =>
        cid -> means.getOrElse(cid, prev)
      }
    }
    centroids
  }

  /** argmin over centroid squared distances, as a single expression.
    * (`least` needs two args — a degenerate 1-centroid index is a
    * constant assignment.) */
  private def assignExpr(emb: Column, centroids: Seq[(Int, Seq[Double])]): Column =
    if (centroids.size == 1) lit(centroids.head._1)
    else {
      // cids are 0..k-1 by construction, so the positional argmin of
      // [[graft.functions.PqEncode]] (m=1 ⇒ plain argmin; ties → lowest
      // index) IS the cid — one codegen'd loop instead of a
      // least(struct…) comparison chain
      val sorted = centroids.sortBy(_._1)
      require(sorted.map(_._1) == sorted.indices.toSeq,
        "assignExpr: centroid ids must be 0..k-1")
      element_at(graft.functions.PqEncode.encode(
        emb, sorted.map(_._2), 1, sorted.size), 1)
    }

  /** IVF ANN: assign corpus to centroids once, probe the query's `nprobe`
    * nearest cells. The probe join is an equi-join on cell id — at 100 TB
    * the corpus assignment is a write-once preprocessing column and each
    * query touches nprobe/k of the data. */
  def ivfTopK(queries: DataFrame, corpus: DataFrame, k: Int = 10,
      nCells: Int = 16, nprobe: Int = 2, iters: Int = 1): DataFrame = {
    val spark = corpus.sparkSession
    import spark.implicits._
    val centroids = ivfCentroids(corpus, nCells, iters)
    // empty corpus ⇒ no cells to probe: the (q_id, c_id, sim, rank)
    // schema with zero rows (queries and corpus share the embeddings
    // shape by module contract, so vec_id's type carries over)
    if (centroids.isEmpty)
      return queries.select(col("vec_id").cast("long").as("q_id"),
        col("vec_id").as("c_id"), lit(0.0).as("sim"), lit(1).as("rank"))
        .limit(0)
    val c = corpus.select(col("vec_id").as("c_id"), asDouble(col("embedding")).as("c_emb"))
      .withColumn("cell", assignExpr(col("c_emb"), centroids))
    // queries are broadcast-sized by module contract (same footprint
    // pqTopK's driver LUT already accepts): collect once and build the
    // (q_id, q_emb, cell) probe rows driver-side — nprobe cells by
    // squared distance, exactly the fold VecSqDist runs, ties → lowest
    // cid. The broadcast side becomes a LocalRelation: no second scan
    // job on the critical path.
    val sorted = centroids.sortBy(_._1)
    val qRows = queries
      .select(col("vec_id").as("q_id"), asDouble(col("embedding")).as("q_emb"))
      .collect()
      .flatMap { r =>
        val qid = r.getAs[Number]("q_id").longValue()
        val emb = r.getAs[scala.collection.Seq[Double]]("q_emb").toSeq
        val byDist = sorted.map { case (cid, cvec) =>
          var d = 0.0
          var i = 0
          while (i < cvec.length) {
            val t = emb(i) - cvec(i); d += t * t; i += 1
          }
          (d, cid)
        }.sortBy(identity).take(nprobe)
        byDist.map { case (_, cid) => (qid, emb, cid) }
      }.toSeq.sortBy(r => (r._1, r._3))
    val q = qRows.toDF("q_id", "q_emb", "cell")
    val scored = c.join(broadcast(q), Seq("cell"))
      .filter(col("q_id") =!= col("c_id"))
      .select(col("q_id"), col("c_id"),
        round(cosine(col("q_emb"), col("c_emb")), 4).as("sim"))
    val w = Window.partitionBy("q_id").orderBy(col("sim").desc, col("c_id").asc)
    scored.withColumn("rank", row_number().over(w)).filter(col("rank") <= k)
  }

  /** Product quantization (Jégou et al., "Product Quantization for
    * Nearest Neighbor Search", TPAMI 2011): split each vector into `m`
    * subspaces, learn a `codes`-entry codebook per subspace (seeded from
    * the first vectors by vec_id — deterministic — and refined with
    * `iters` Lloyd steps), store each vector as `m` small codes, and
    * answer queries with an asymmetric-distance (ADC) scan: a per-query
    * lookup table of query-to-centroid distances per subspace, summed
    * over the stored codes.
    *
    * Scale design: the codebook is m×codes×subDim doubles (a few KB) —
    * the only thing that ever reaches the driver. Encoding is a map-only
    * pass (argmin against a broadcast codebook literal, codegen'd
    * [[graft.functions.VecSqDist]]), and the stored representation is
    * m bytes/vector instead of dim floats — a 64-d float corpus shrinks
    * 64×, which is the point at 100 TB. The ADC scan is a broadcast join
    * of the (tiny) per-query LUT against the code table plus one
    * partially-aggregated shuffle keyed (q_id, c_id): raw vectors are
    * never shuffled or re-read at query time.
    *
    * The per-pair distance folds the m partial distances in subspace
    * order (array_sort before the fold), so the sum is order-stable and
    * reproducible across engines and partitionings. */
  def pqCodebooks(corpus: DataFrame, m: Int = 4, codes: Int = 16,
      iters: Int = 1): Seq[((Int, Int), Seq[Double])] = {
    val c = corpus.select(col("vec_id"), asDouble(col("embedding")).as("emb"))
    val seedVecs = c.orderBy("vec_id").limit(codes).collect()
      .map(_.getAs[scala.collection.Seq[Double]]("emb").toSeq)
    // empty corpus ⇒ empty codebook; pqTopK translates it into an empty
    // result (an UNDERSIZED corpus is still a loud error below)
    if (seedVecs.isEmpty) return Seq.empty
    require(seedVecs.length >= codes,
      s"pqCodebooks: corpus has ${seedVecs.length} vectors < codes=$codes — " +
        "shrink `codes` (a codebook can't have more entries than training vectors)")
    val subDim = seedVecs.head.length / m
    var cb: Map[(Int, Int), Seq[Double]] = (for {
      (v, code) <- seedVecs.zipWithIndex
      sub <- 0 until m
    } yield (sub, code) -> v.slice(sub * subDim, (sub + 1) * subDim)).toMap
    for (_ <- 0 until iters) {
      // encode whole vectors once per row (codegen'd argmin), then
      // explode to (sub, se, code) rows for the per-cell mean
      val cbFlat = (0 until m).flatMap(s => (0 until codes).map(code => cb((s, code))))
      val assigned = c
        .withColumn("cds",
          graft.functions.PqEncode.encode(col("emb"), cbFlat, m, codes))
        .select(col("vec_id"),
          explode(subVectors(col("emb"), m, subDim)).as("sp"), col("cds"))
        .select(col("vec_id"), col("sp.sub").as("sub"), col("sp.se").as("se"),
          element_at(col("cds"), col("sp.sub") + 1).as("code"))
      // round-6 O(1)-state mean, driver-assembled — see ivfCentroids
      val means = assigned
        .select(col("sub"), col("code"), posexplode(col("se")).as(Seq("i", "x")))
        .groupBy("sub", "code", "i")
        .agg(round(sum(col("x")) / count(lit(1)), 6).as("mv"))
        .collect()
        .groupBy(r => (r.getInt(0), r.getInt(1)))
        .map { case (sc, rows) =>
          sc -> rows.sortBy(_.getInt(2)).map(_.getDouble(3)).toSeq
        }
      // subspace cells that lost all members keep their previous centroid
      cb = cb ++ means
    }
    cb.toSeq.sortBy(_._1)
  }

  /** (sub, 16-dim slice) structs for one vector. */
  private def subVectors(emb: Column, m: Int, subDim: Int): Column =
    array((0 until m).map(s =>
      struct(lit(s).as("sub"), slice(emb, s * subDim + 1, subDim).as("se"))): _*)

  /** PQ/ADC top-k: smallest approximate distance first. Output:
    * q_id, c_id, adc (rounded 4), rank — ranked on the rounded distance
    * with c_id tiebreak so near-ties resolve identically everywhere.
    *
    * Scan shape (the 100 TB path): corpus vectors are encoded to an
    * m-entry code array in ONE map-only projection (argmin against the
    * broadcast codebook literal — nothing exploded, nothing shuffled);
    * the per-query LUT (q-to-centroid distance per subspace×code,
    * m×codes doubles/query) is computed on the driver from the collected
    * query vectors — queries are broadcast-sized by module contract, so
    * this is the same O(Q×dim) driver footprint every other `Similarity`
    * entry point already accepts. The ADC pass is then a broadcast
    * nested-loop of the Q-row LUT frame against the code table with the
    * distance as pure array indexing (`element_at(lut, sub*codes+code)`
    * summed in fixed subspace order — deterministic under any
    * partitioning), and per-query top-k runs through [[graft.plans.GroupedTopK]]
    * so only k rows per query survive each partition before the final
    * shuffle. No (q,c)-pair aggregation state anywhere. */
  def pqTopK(queries: DataFrame, corpus: DataFrame, k: Int = 10,
      m: Int = 4, codes: Int = 16, iters: Int = 1): DataFrame = {
    val spark = corpus.sparkSession
    import spark.implicits._
    val cb = pqCodebooks(corpus, m, codes, iters)
    // empty corpus ⇒ nothing to encode or scan: the (q_id, c_id, adc,
    // rank) schema with zero rows (see ivfTopK's empty-corpus note)
    if (cb.isEmpty)
      return queries.select(col("vec_id").cast("long").as("q_id"),
        col("vec_id").as("c_id"), lit(0.0).as("adc"), lit(1).as("rank"))
        .limit(0)
    val cbMap = cb.toMap
    val subDim = cb.head._2.length
    val cbFlat = cb.map(_._2) // already sorted (sub, code)
    // Index build: one codegen'd map-only encode pass ([[graft.functions.PqEncode]]),
    // materialized eagerly — the code table IS the PQ index artifact (at
    // cluster scale it would be written once and reused per query batch);
    // materializing also stops projection collapse from inlining the
    // encode above the join, which would re-encode once per (q, c) pair.
    val corpusCodes = corpus.select(col("vec_id").as("c_id"),
      graft.functions.PqEncode.encode(asDouble(col("embedding")), cbFlat, m, codes)
        .as("codes"))
      .localCheckpoint()
    // driver-built LUT: same element-order summation as VecSqDist, over
    // the same float→double-cast values the distributed path sees
    val lutRows = queries
      .select(col("vec_id").as("q_id"), asDouble(col("embedding")).as("emb"))
      .collect()
      .map { r =>
        val emb = r.getAs[scala.collection.Seq[Double]]("emb")
        val lut = new Array[Double](m * codes)
        for (s <- 0 until m; code <- 0 until codes) {
          val cv = cbMap((s, code))
          var d = 0.0
          var i = 0
          while (i < subDim) {
            val t = emb(s * subDim + i) - cv(i); d += t * t; i += 1
          }
          lut(s * codes + code) = d
        }
        (r.getAs[Number]("q_id").longValue(), lut.toSeq)
      }.toSeq.sortBy(_._1)
    val lutDf = lutRows.toDF("q_id", "lut")
    val adcExpr = (0 until m).map { s =>
      element_at(col("lut"),
        (element_at(col("codes"), s + 1) + lit(s * codes) + 1).cast("int"))
    }.reduce(_ + _)
    val adc = corpusCodes.crossJoin(broadcast(lutDf))
      .filter(col("q_id") =!= col("c_id"))
      .select(col("q_id"), col("c_id"), round(adcExpr, 4).as("adc"))
    val top = graft.plans.GroupedTopK.perKey(adc, "q_id",
      Seq("adc" -> true, "c_id" -> true), k)
    val w = Window.partitionBy("q_id").orderBy(col("adc").asc, col("c_id").asc)
    top.withColumn("rank", row_number().over(w))
  }

  /** IVF/LSH-bucketed ANN: probe only the query's sign bucket. */
  def bucketedTopK(queries: DataFrame, corpus: DataFrame, k: Int = 10,
      signBits: Int = 8): DataFrame = {
    val q = queries.select(col("vec_id").as("q_id"),
      asDouble(col("embedding")).as("q_emb"))
      .withColumn("bucket", signBucket(col("q_emb"), signBits))
    val c = corpus.select(col("vec_id").as("c_id"),
      asDouble(col("embedding")).as("c_emb"))
      .withColumn("bucket", signBucket(col("c_emb"), signBits))
    val scored = c.join(broadcast(q), Seq("bucket"))
      .filter(col("q_id") =!= col("c_id"))
      .select(col("q_id"), col("c_id"),
        round(cosine(col("q_emb"), col("c_emb")), 4).as("sim"))
    val w = Window.partitionBy("q_id").orderBy(col("sim").desc, col("c_id").asc)
    scored.withColumn("rank", row_number().over(w)).filter(col("rank") <= k)
  }

  /** SemDeDup-class semantic dedup (cluster-then-prune, after Abbas et
    * al. 2023, arXiv:2303.09540): embeddings are clustered with the same
    * deterministic Lloyd refinement as [[ivfCentroids]], and near-
    * duplicate PAIRS are only sought WITHIN a cluster — the k-means cell
    * is the candidate-blocking structure, so the corpus never sees an
    * all-pairs comparison. A vector is dropped when a LOWER-id vector in
    * its cell has cosine ≥ `tau` (keep-lowest-id, the same policy as
    * [[Dedup.exact]]); `dup_of` records the smallest such id for audit.
    *
    * Scale shape: centroids are k×dim on the driver (tiny); assignment is
    * one map-side argmin column; the pair search is a self-equi-join ON
    * THE CELL ID — shuffle partitions by cell, work per cell is quadratic
    * only in cell size, which nCells controls. The cosine threshold is
    * applied to the ROUNDED similarity so the keep/drop decision is
    * engine-reproducible.
    *
    * Output per corpus vector: vec_id, cell, dup_of (nullable), kept. */
  /** (vec_id, emb, cell) for a corpus under a fixed centroid set — the
    * shared assignment step of [[semanticDedup]] and the incremental
    * ingest loop ([[IncrementalDedup.ingestSemantic]]). */
  def assignCells(corpus: DataFrame,
      centroids: Seq[(Int, Seq[Double])]): DataFrame =
    corpus.select(col("vec_id"), asDouble(col("embedding")).as("emb"))
      .withColumn("cell", assignExpr(col("emb"), centroids))

  def semanticDedup(corpus: DataFrame, tau: Double = 0.25,
      nCells: Int = 16, iters: Int = 1): DataFrame = {
    val centroids = ivfCentroids(corpus, nCells, iters)
    // empty corpus ⇒ empty dedup verdict with the output schema intact
    // (dup_of carries vec_id's type — it is a MIN over neighbor ids)
    if (centroids.isEmpty)
      return corpus.select(col("vec_id"), lit(0L).as("cell"),
        col("vec_id").as("dup_of"), lit(true).as("kept")).limit(0)
    // norm attached ONCE per vector, not recomputed per pair (r17 — the
    // same treatment dedup_embedding_cosine got in r16): cosine() inlines
    // THREE VecDot evaluations per pair, and the in-cell pair volume is
    // ~Σ n_c²/2 (≈1.2 B pairs at 200 k vectors / 16 cells) — the noop
    // re-baseline showed this stage at 163.6 s at sf10 where count()
    // had pruned it entirely. Same value bit-for-bit: the norm is a
    // pure function of the vector and the division is the same
    // expression, so round(·,4) sees identical doubles.
    val c = assignCells(corpus, centroids)
      .withColumn("nrm", norm(col("emb")))
    val nb = c.select(col("cell"), col("vec_id").as("nb_id"),
      col("emb").as("nb_emb"), col("nrm").as("nb_nrm"))
    val dups = c.join(nb, Seq("cell"))
      .filter(col("nb_id") < col("vec_id"))
      .filter(round(dot(col("emb"), col("nb_emb")) /
        (col("nrm") * col("nb_nrm")), 4) >= tau)
      .groupBy("vec_id").agg(min("nb_id").as("dup_of"))
    c.join(dups, Seq("vec_id"), "left")
      .select(col("vec_id"), col("cell").cast("long").as("cell"),
        col("dup_of"), col("dup_of").isNull.as("kept"))
  }

  /** Semantic decontamination: flag every TRAIN vector whose cosine to
    * any EVAL vector reaches `tau` — the embedding-space form of the
    * n-gram gate ([[TextAnalysis.decontaminate]]), catching paraphrased
    * benchmark leakage that shares no 5-gram. EXACT by construction
    * (brute force against the eval set, no blocking): a contamination
    * gate must not have false negatives, and eval benchmarks are tiny —
    * so the scale shape is the right one anyway: eval broadcast, corpus
    * scanned once map-side, per-train top-1 through [[graft.plans.GroupedTopK]]
    * (k rows per partition pre-shuffle). Output per train vector:
    * (vec_id, near_eval_id, max_sim, contaminated). */
  def semanticDecon(train: DataFrame, evalSet: DataFrame,
      tau: Double = 0.5): DataFrame = {
    val t = train.select(col("vec_id"), asDouble(col("embedding")).as("emb"))
    val e = evalSet.select(col("vec_id").as("e_id"),
      asDouble(col("embedding")).as("e_emb"))
    val scored = t.crossJoin(broadcast(e))
      .select(col("vec_id"), col("e_id"),
        round(cosine(col("emb"), col("e_emb")), 4).as("sim"))
    graft.plans.GroupedTopK.perKey(scored, "vec_id",
        Seq("sim" -> false, "e_id" -> true), 1)
      .select(col("vec_id"), col("e_id").as("near_eval_id"),
        col("sim").as("max_sim"), (col("sim") >= tau).as("contaminated"))
  }

  /** Symmetric per-vector int8 quantization — the 4× storage/bandwidth
    * cut applied to an embedding corpus before it is shipped to an ANN
    * index or a trainer: scale = max|x|/127, code = clamp(round(x/scale)),
    * reconstruction x̂ = code·scale. Emits the codes (space-joined, so
    * the row is engine-comparable) plus the quality metrics a pipeline
    * gates on: per-vector MSE and cosine(original, reconstruction).
    *
    * Map-only expression chain, one stage, no shuffle — each HOF input
    * is materialized in its own projection first (lambda bodies don't
    * CSE with the outer plan). Metric sums run in array-position order
    * on both engines, so the doubles agree bitwise before rounding. */
  def quantizeInt8(embeddings: DataFrame, vecCol: String = "embedding")
      : DataFrame = {
    // r18: the whole per-vector computation is ONE native pass
    // (QuantizeInt8Expr) — the declarative chain paid six interpreted
    // array-HOF passes per row, every lambda eval boxing a double.
    // QuantizeSpec keeps that chain and pins the two bit-identical.
    embeddings.select(col("vec_id"),
        graft.functions.QuantizeInt8Expr.quantizeInt8(
          asDouble(col(vecCol))).as("__q"))
      .select(col("vec_id"), col("__q.scale").as("scale"),
        col("__q.codes").as("codes"), col("__q.mse").as("mse"),
        col("__q.cos_recon").as("cos_recon"))
  }
}
