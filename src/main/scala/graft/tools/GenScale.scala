package graft.tools

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Scale-up generator for the sf1 heavy-op proof (VERDICT r8 item 4):
  * replicate the driver's sf0.1 tables `replicas`× with deterministic
  * per-replica perturbation, so each heavy operator's WORKLOAD grows
  * linearly and a superlinear wall-time reveals an engine problem, not a
  * data artifact:
  *
  *  - documents/part text: every word is tagged with the replica id
  *    (replica 0 keeps the original), so replicas share zero shingles —
  *    posting lists, LSH buckets, and ER blocks each grow 10× in count,
  *    not 10× in size (which would make Σ df² work grow 100× and no
  *    partitioning could look linear);
  *  - part blocks (p_brand) are replica-tagged for the same reason;
  *  - embeddings get a deterministic hash jitter per (vec_id, dim) so
  *    k-means cells keep their shape while replicas stay distinct;
  *  - graph keys (orderkey/custkey/suppkey/partkey) are offset per
  *    replica — 10 disconnected copies of the sf0.1 graph;
  *  - customer/supplier keys are offset to match the orders/lineitem FK
  *    offsets, so every join keeps exactly its sf0.1 selectivity;
  *  - events get replica-offset event_id/user_id (10× distinct users ⇒
  *    sessionize/retention/funnel workloads grow linearly) with ts
  *    unchanged (the time range is a property of the domain, not of SF);
  *  - region/nation are copied AS-IS: true dimensions stay small while
  *    facts grow — replicating them would distort the broadcast-join
  *    behavior the scale proof is meant to exercise.
  *
  * Output goes under the repo's gitignored tmp/ — never to /root/testdata.
  */
object GenScale {

  def main(args: Array[String]): Unit = {
    val Array(inDir, outDir, replicasStr) = args
    val replicas = replicasStr.toInt
    val spark = graft.Session.build(graft.Session.suite())

    def reps(df: DataFrame): DataFrame =
      // repartition the (single-file, so single-partition) input BEFORE
      // the replica crossJoin: every per-row transform downstream
      // (tagText's word-split/concat, key offsets) otherwise runs in ONE
      // task — at 1000 replicas that is 600 M lineitem rows through a
      // single thread (measured: the r14 sf100 generation sat >10 min in
      // stage-one with 31 idle cores). Row content is a pure function of
      // (row, __r), so the spread changes only which task computes what.
      df.repartition(32)
        .crossJoin(spark.range(replicas).select(col("id").cast("int").as("__r")))

    /** words tagged `r<k>-` except replica 0 (sf1 ⊇ sf0.1). */
    def tagText(text: org.apache.spark.sql.Column) =
      when(col("__r") === 0, text).otherwise(
        array_join(transform(split(text, "\\s+"),
          w => concat(concat(lit("r"), col("__r")), lit("-"), w)), " "))

    // RANGE-partitioned on doc_id (r11): the driver's own testdata is
    // written in id order, so its row-group min/max stats prune fixed-
    // slice predicates (doc_id < 300 — dedup_clusters, decon eval sets).
    // The old round-robin repartition(32) scattered ids across every
    // file: at sf10 a 300-doc slice cost a full 2 GB text scan (measured
    // 5.2 s of dedup_clusters' 11.1 s). Clustering the synthetic layout
    // like the real one is what any lake does (Z-order/sort-on-write
    // exists in ops/Layout for exactly this reason).
    val docs = spark.read.parquet(s"$inDir/documents.parquet")
    val maxDoc = docs.agg(max("doc_id")).head().getLong(0) + 1
    reps(docs)
      .select((col("doc_id") + col("__r") * maxDoc).as("doc_id"),
        tagText(col("text")).as("text"), col("lang"), col("source"),
        col("__r"))
      .withColumn("n_chars", length(col("text")))
      .drop("__r")
      .repartitionByRange(32, col("doc_id"))
      .write.mode("overwrite").parquet(s"$outDir/documents.parquet")

    val emb = spark.read.parquet(s"$inDir/embeddings.parquet")
    val maxVec = emb.agg(max("vec_id")).head().getLong(0) + 1
    reps(emb)
      .select((col("vec_id") + col("__r") * maxVec).as("vec_id"),
        when(col("__r") === 0, col("embedding")).otherwise(
          zip_with(col("embedding"),
            sequence(lit(0), size(col("embedding")) - 1),
            (x, i) => (x + (pmod(xxhash64(col("__r"), i), lit(1000L))
              .cast("double") / 1000.0 - 0.5) * 0.1).cast("float")))
          .as("embedding"),
        col("label"))
      .repartitionByRange(32, col("vec_id")) // fixed-range eval slices prune
      .write.mode("overwrite").parquet(s"$outDir/embeddings.parquet")

    val part = spark.read.parquet(s"$inDir/part.parquet")
    reps(part)
      .select((col("p_partkey") + col("__r") * 1000000L).as("p_partkey"),
        tagText(col("p_name")).as("p_name"),
        when(col("__r") === 0, col("p_brand"))
          .otherwise(concat(col("p_brand"), lit("#"), col("__r"))).as("p_brand"),
        col("p_type"), col("p_size"), col("p_retailprice"))
      .repartition(32).write.mode("overwrite").parquet(s"$outDir/part.parquet")

    val orders = spark.read.parquet(s"$inDir/orders.parquet")
    reps(orders)
      .select((col("o_orderkey") + col("__r") * 10000000L).as("o_orderkey"),
        (col("o_custkey") + col("__r") * 1000000L).as("o_custkey"),
        col("o_orderstatus"), col("o_totalprice"), col("o_orderdate"),
        col("o_orderpriority"))
      .repartition(32).write.mode("overwrite").parquet(s"$outDir/orders.parquet")

    val li = spark.read.parquet(s"$inDir/lineitem.parquet")
    reps(li)
      .select((col("l_orderkey") + col("__r") * 10000000L).as("l_orderkey"),
        (col("l_partkey") + col("__r") * 1000000L).as("l_partkey"),
        (col("l_suppkey") + col("__r") * 100000L).as("l_suppkey"),
        col("l_linenumber"), col("l_quantity"), col("l_extendedprice"),
        col("l_discount"), col("l_tax"), col("l_returnflag"),
        col("l_linestatus"), col("l_shipdate"))
      .repartition(32).write.mode("overwrite").parquet(s"$outDir/lineitem.parquet")

    val cust = spark.read.parquet(s"$inDir/customer.parquet")
    reps(cust)
      .select((col("c_custkey") + col("__r") * 1000000L).as("c_custkey"),
        when(col("__r") === 0, col("c_name"))
          .otherwise(concat(col("c_name"), lit("#"), col("__r"))).as("c_name"),
        col("c_nationkey"), col("c_acctbal"), col("c_mktsegment"))
      .repartition(32).write.mode("overwrite").parquet(s"$outDir/customer.parquet")

    val supp = spark.read.parquet(s"$inDir/supplier.parquet")
    reps(supp)
      .select((col("s_suppkey") + col("__r") * 100000L).as("s_suppkey"),
        when(col("__r") === 0, col("s_name"))
          .otherwise(concat(col("s_name"), lit("#"), col("__r"))).as("s_name"),
        col("s_nationkey"), col("s_acctbal"))
      .repartition(32).write.mode("overwrite").parquet(s"$outDir/supplier.parquet")

    // Tables.events normalizes whatever physical ts type the driver wrote;
    // our rewrite lands as plain TIMESTAMP (micros, UTC) — still covered.
    val ev = graft.Tables.events(spark, inDir)
    val maxEvent = ev.agg(max("event_id")).head().getLong(0) + 1
    reps(ev)
      .select((col("event_id") + col("__r") * maxEvent).as("event_id"),
        col("ts"),
        (col("user_id") + col("__r") * 1000000L).as("user_id"),
        col("event_type"), col("value"), col("props"))
      .repartition(32).write.mode("overwrite").parquet(s"$outDir/events.parquet")

    // true dims: unchanged (at any SF the dims stay broadcast-sized)
    Seq("region", "nation").foreach(t =>
      spark.read.parquet(s"$inDir/$t.parquet")
        .write.mode("overwrite").parquet(s"$outDir/$t.parquet"))

    println(s"[genscale] wrote $replicas× $inDir -> $outDir")
    spark.stop()
  }
}
