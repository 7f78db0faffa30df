package graft

import org.apache.spark.sql.functions._
import graft.ops.Dedup

/** Connected-components cluster assignment. */
class ClustersSpec extends SparkSpec {
  import spark.implicits._

  test("components: chain, triangle, and disjoint pair resolve to min ids") {
    // chain 1-2-3-4 (transitive), triangle 10-11-12, pair 20-21
    val edges = Seq((2L, 1L), (2L, 3L), (3L, 4L), (10L, 11L), (11L, 12L),
      (10L, 12L), (21L, 20L)).toDF("u", "v")
    val got = Dedup.connectedComponents(edges)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got == Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 4L -> 1L,
      10L -> 10L, 11L -> 10L, 12L -> 10L, 20L -> 20L, 21L -> 20L))
  }

  test("long chain converges in O(log n) rounds (pointer doubling)") {
    // a 256-node path is the adversarial case for plain min-label
    // propagation (255 rounds); pointer doubling must finish in ~log2(n)
    val n = 256
    val edges = (1 until n).map(i => (i.toLong, (i + 1).toLong)).toDF("u", "v")
    val (labelsDf, rounds) = Dedup.ccWithRounds(edges)
    val got = labelsDf.collect()
    assert(got.length == n && got.forall(_.getLong(1) == 1L))
    assert(rounds <= 10, s"chain-256 took $rounds rounds — pointer doubling broken")
  }

  test("reliable checkpoint-dir path: same labels, checkpoints on disk") {
    val dir = java.nio.file.Files.createTempDirectory("cc-ckpt").toString
    val edges = Seq((2L, 1L), (2L, 3L), (3L, 4L), (10L, 11L), (21L, 20L))
      .toDF("u", "v")
    spark.conf.set(graft.ops.Materialize.ConfKey, dir)
    val got = try Dedup.connectedComponents(edges)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    finally spark.conf.unset(graft.ops.Materialize.ConfKey)
    assert(got == Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 4L -> 1L,
      10L -> 10L, 11L -> 10L, 20L -> 20L, 21L -> 20L))
    // reliable (not local) checkpointing actually wrote RDD blocks there
    val wrote = java.nio.file.Files.walk(java.nio.file.Paths.get(dir))
    try assert(wrote.filter(_.getFileName.toString.startsWith("part-"))
      .findFirst.isPresent, "no checkpoint blocks written to the dir")
    finally wrote.close()
  }

  test("non-convergence within maxIter throws instead of mislabeling") {
    val edges = (1 until 64).map(i => (i.toLong, (i + 1).toLong)).toDF("u", "v")
    intercept[IllegalStateException] {
      Dedup.connectedComponents(edges, maxIter = 2).collect()
    }
  }

  test("LSH hot-bucket cap: capped run is a subset, hot buckets skipped") {
    val docs = Tables.documents(spark, sf("sf0.001"))
    val all = Dedup.minhashCandidates(docs, minEst = 0.25)
      .select("doc_a", "doc_b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val capped = Dedup.minhashCandidates(docs, minEst = 0.25, maxBucket = Some(3))
      .select("doc_a", "doc_b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(capped.subsetOf(all))
    // a tight cap on this corpus must actually drop something (hot
    // buckets exist), while pairs sharing a quiet band survive
    assert(capped.size < all.size)
  }

  test("bloom prefilter: no false negatives, exact is_known, pruning real") {
    val corpus = Tables.documents(spark, sf("sf0.001")).filter(col("doc_id") < 400)
    val knownPart = Tables.documents(spark, sf("sf0.001"))
      .filter(col("doc_id") < 100) // overlaps corpus
    val novel = Seq((9001L, "a genuinely new document body"),
      (9002L, "another unseen text")).toDF("doc_id", "text")
    val batch = knownPart.select("doc_id", "text").unionByName(novel)
    val got = Dedup.bloomPrefilter(batch, corpus, expectedItems = 1000)
      .collect().map(r => r.getAs[Long]("doc_id") -> r.getAs[Boolean]("is_known")).toMap
    // every corpus doc in the batch is flagged known (no false negatives)
    assert((0L until 100L).filter(got.contains).forall(got(_)))
    assert(!got(9001L) && !got(9002L)) // novel rows are exactly-new
    assert(got.size == batch.count())
  }

  test("bloom membership test is codegen (might_contain), not a Scala UDF") {
    val corpus = Tables.documents(spark, sf("sf0.001")).filter(col("doc_id") < 100)
    val batch = Tables.documents(spark, sf("sf0.001")).filter(col("doc_id") < 10)
    val out = Dedup.bloomPrefilter(batch, corpus, expectedItems = 1000)
    val p = out.queryExecution.executedPlan.toString
    assert(p.contains("might_contain"), "prefilter must use BloomFilterMightContain")
    assert(!p.contains("UDF("), s"prefilter fell back to a ScalaUDF:\n${p.take(800)}")
  }

  test("bloom prefilter: caller columns named h/maybe survive untouched") {
    import spark.implicits._
    val corpus = Seq((1L, "known body")).toDF("doc_id", "text")
    val batch = Seq((1L, "known body", "callerH", "callerMaybe"))
      .toDF("doc_id", "text", "h", "maybe")
    val row = Dedup.bloomPrefilter(batch, corpus, expectedItems = 100).collect().head
    assert(row.getAs[String]("h") == "callerH")
    assert(row.getAs[String]("maybe") == "callerMaybe")
    assert(row.getAs[Boolean]("is_known"))
  }

  test("null text: no minhash signature in either hashing mode (no NPE)") {
    import spark.implicits._
    val docs = Seq((1L, "shared body of words"), (2L, null.asInstanceOf[String]),
      (3L, "shared body of words")).toDF("doc_id", "text")
    val portable = Dedup.minhashSignatures(docs, portable = true)
      .collect().map(_.getLong(0)).toSet
    val fast = Dedup.minhashSignatures(docs)
      .collect().map(_.getLong(0)).toSet
    assert(portable == Set(1L, 3L) && fast == Set(1L, 3L))
  }

  test("clusters: singletons kept, keeper is the min id, sizes correct") {
    val docs = Seq(1L, 2L, 3L, 7L, 9L).map(id => (id, s"text $id")).toDF("doc_id", "text")
    val pairs = Seq((1L, 2L), (2L, 3L)).toDF("doc_a", "doc_b")
    val got = Dedup.clusters(docs, pairs)
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getBoolean(3)))
      .sortBy(_._1)
    assert(got.toSeq == Seq(
      (1L, 1L, 3L, true), (2L, 1L, 3L, false), (3L, 1L, 3L, false),
      (7L, 7L, 1L, true), (9L, 9L, 1L, true)))
  }

  test("duplicate spans: maximal merge, cross-doc only, short docs skipped") {
    val docs = Seq(
      (1L, "a b c d e f g x y z"),        // shares "a b c d e f g" with 2
      (2L, "z z a b c d e f g q"),
      (3L, "p q r s t u p q r s t u"),    // WITHIN-doc repeat only -> silent
      (4L, "one two three")               // < 5 tokens -> skipped
    ).toDF("doc_id", "text")
    val got = Dedup.duplicateSpans(docs, l = 5).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
      .sortBy(x => (x._1, x._2))
    // dup 5-gram starts: doc1 pos 0,1,2 -> one span [0,6]; doc2 pos 2,3,4 -> [2,8]
    assert(got.toSeq == Seq((1L, 0L, 6L, 7L), (2L, 2L, 8L, 7L)), got.mkString(","))
  }

  test("lsh recall: planted near-dups are all recovered, scores well-formed") {
    // 3 docs sharing a long common body (high shingle jaccard) + noise
    val body = (1 to 40).map(i => s"w$i").mkString(" ")
    val docs = (Seq(
      (1L, body), (2L, body + " tail"), (3L, "head " + body)) ++
      (10L until 40L).map(i => (i, (0 until 30).map(j => s"u${i}_$j").mkString(" "))))
      .toDF("doc_id", "text")
    val r = Dedup.lshRecall(docs, threshold = 0.5).collect().head
    assert(r.getAs[Long]("n_truth") == 3L) // the 3 planted pairs
    assert(r.getAs[Double]("recall") == 1.0, r.toString)
    assert(r.getAs[Double]("precision") > 0.0 && r.getAs[Double]("precision") <= 1.0)
    assert(r.getAs[Long]("n_hit") <= r.getAs[Long]("n_cand"))
  }

  test("cut spans: covered tokens drop, order kept, clean docs untouched") {
    val docs = Seq(
      (1L, "a b c d e f g x y z"),
      (2L, "z z a b c d e f g q"),
      (3L, "fully shared text one two"),   // whole doc duplicated with 5
      (4L, "one two three"),               // short: passes through
      (5L, "fully shared text one two")
    ).toDF("doc_id", "text")
    val got = Dedup.cutSpans(docs, l = 5).collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2), r.getString(3)))
      .toMap
    assert(got(1L) == ((10L, 7L, "x y z")))
    assert(got(2L) == ((10L, 7L, "z z q")))
    assert(got(3L) == ((5L, 5L, "")))  // fully cut -> empty, not null
    assert(got(4L) == ((3L, 0L, "one two three")))
    assert(got(5L) == ((5L, 5L, "")))
  }

  test("best representative: argmax score wins, ties break low, singletons kept") {
    // chain 1~2~3: 2 has the top score; pair 7~8 ties -> lowest id; 9 solo
    val docs = Seq(1L -> 0.2, 2L -> 0.9, 3L -> 0.5, 7L -> 0.4, 8L -> 0.4,
      9L -> 0.7).toDF("doc_id", "score")
    val pairs = Seq((1L, 2L), (2L, 3L), (7L, 8L)).toDF("doc_a", "doc_b")
    val got = Dedup.bestRepresentatives(docs, pairs, col("score"))
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getLong(3)))
      .sortBy(_._1)
    assert(got.toSeq == Seq(
      (1L, 2L, 0.9, 3L), (7L, 7L, 0.4, 2L), (9L, 9L, 0.7, 1L)))
  }
}
