package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Document deduplication for large-scale training-data pipelines.
  *
  * All variants are pure DataFrame compositions (codegen-friendly built-ins
  * + higher-order functions, no UDFs, no driver loops) and shuffle only on
  * hash keys, so they scale linearly with corpus size:
  *
  *  - exact: group by content hash — one shuffle on the hash.
  *  - MinHash+LSH: shingle → `perms` minhashes → `bands` band-hashes →
  *    self-equi-join on (band, band_hash). At 100 TB this is a shuffle join
  *    on a high-cardinality key; the O(n²) pair space never materializes —
  *    only colliding buckets produce pairs.
  *  - SimHash: 64-bit signature from token hashes; candidates collide on
  *    a 3-block compound key (multi-index pigeonhole over
  *    b = maxHamming + 3 blocks — hamming ≤ h ⇒ ≥ 3 blocks intact ⇒ some
  *    3-subset equal; see [[simhashCandidates]]), verified with
  *    `bit_count(xor)`.
  *  - n-gram Jaccard: exact verification over a candidate pair set.
  *
  * Determinism: all hashing is xxhash64 with fixed seeds — stable across
  * runs, partitions, and cluster sizes. Each signature builder also has a
  * `portable = true` mode that hashes via md5 (≈2× slower than xxhash64):
  * any engine with md5 reproduces the exact signatures, which is what lets
  * the minhash/simhash declared queries be value-checked against DuckDB
  * instead of rows-only.
  */
object Dedup {

  /** Corpus size at/below which [[simhashCandidates]] uses the cheap
    * single-block keys: n ≤ 2^16 means even a 16-bit block key space
    * cannot saturate (expected in-block random collisions stay ≤ ~n²/2^17
    * ≈ 32 k pairs — trivially verified away), while the compound-key
    * explode would cost C(h+3,3)/(h+1) ≈ 5× the rows for nothing. */
  val simhashCompoundMinDocs: Long = 65536L

  /** Corpus size above which [[containmentPairs]] pins EXPLICIT widths on
    * its exchanges instead of letting AQE size them (r16 sf100 autopsy).
    * AQE coalesces post-shuffle partitions toward a shuffle-READ byte
    * target — but this op's pair self-join EXPLODES ~50 postings/doc
    * into ~250 pair rows/doc AFTER the exchange, so byte-sized
    * partitions hide a 25× row blowup: at sf100 (5 M docs) AQE folded
    * the 1024-wide session config to ~21 join tasks × 60 M pair rows,
    * every partial-agg hash map overflowed to sort-based fallback, and
    * the stage spilled 153 GB / burned 450 s of GC — the whole
    * "30×/decade on flat shuffle" wall. Explicit `repartition(n, col)`
    * is never coalesced, so large corpora get deterministic task
    * cardinality; small corpora keep the AQE shape, where folding a
    * sub-MB shuffle into 1-2 tasks is the right call. */
  val containmentExplicitWidthMinDocs: Long = 200000L

  private def tokens(c: Column): Column =
    graft.functions.WsSplitExpr.wsSplit(trim(lower(c)))

  /** Cross-engine 60-bit hash: hex digits [off, off+15) of md5, as a long.
    * DuckDB equivalent: `CAST('0x' || substr(md5(s), off, 15) AS BIGINT)`.
    * 15 hex digits < 2^60 — no sign or ANSI-overflow concerns. */
  def md5Long(c: Column, off: Int = 1): Column =
    conv(substring(md5(c), off, 15), 16, 10).cast("long")

  /** Exact dedup: keep lowest doc_id per identical text.
    * Output: h (md5), keep_id, copies. */
  def exact(documents: DataFrame): DataFrame =
    documents
      .groupBy(md5(col("text")).as("h"))
      .agg(min("doc_id").as("keep_id"), count(lit(1)).as("copies"))

  /** Distinct word k-shingles of a token array — the native codegen
    * [[graft.functions.ShinglesExpr]] (one O(tokens·k) pass, hash-set
    * dedupe). The declarative `array_distinct(transform(sequence...))`
    * form it replaces re-evaluated its lambda body per element — an
    * inlined tokenizer re-split the text once per shingle, and the
    * interpreted HOF + pairwise array_distinct cost ~0.7 s of the
    * containment posting build at sf0.1. */
  def shinglesOf(t: Column, k: Int = 3): Column =
    graft.functions.ShinglesExpr.shingles(t, k)

  /** Distinct word k-shingles of the text — convenience form; prefer
    * `tokens(...).as("__t")` in a projection + [[shinglesOf]] on any hot
    * path (see [[shinglesOf]]'s per-element re-tokenization warning). */
  def shingles(c: Column, k: Int = 3): Column = shinglesOf(tokens(c), k)

  /** `perms`-permutation MinHash signatures, one row per doc_id:
    * (doc_id, sig array<long>).
    *
    * Relational formulation for whole-stage codegen: explode shingles, 2
    * real hashes per shingle (double hashing, h_i = h1 + i·h2), then
    * `perms` MIN aggregates in one partial-aggregated pass. The
    * higher-order-function formulation (64 interpreted array traversals
    * per doc) cost ~10× total bench wall-clock at sf0.1 — never put a
    * per-permutation loop in an interpreted lambda on the hot path. */
  def minhashSignatures(documents: DataFrame, perms: Int = 64,
      portable: Boolean = false): DataFrame = {
    // No distinct over shingles — MIN over a multiset equals MIN over its
    // set. mod 2^31-1 keeps h1 + i*h2 far from Long overflow (ANSI mode
    // errors on wraparound) while remaining a sound Carter-Wegman family.
    val p = lit(2147483647L)
    // Shingles straight off the token array via the native codegen
    // ShinglesExpr (multiset + whole-text fallback for short docs) — no
    // window `lead` (a full shuffle+sort per doc just to see the next two
    // tokens), no interpreted per-element transform lambda. One narrow
    // stage from scan to the aggregate's map side; Spread parallelizes
    // that stage when the scan arrives as one local row group (no-op on
    // wide inputs).
    val shingles = graft.functions.ShinglesExpr.of(col("t"), 3,
      distinct = false, shortWhole = true)
    val hashed = Spread.wide(documents, Some(col("doc_id")))
      .select(col("doc_id"), graft.functions.WsSplitExpr.wsSplit(trim(lower(col("text")))).as("t"))
      .select(col("doc_id"), explode(shingles).as("s"))
      // with ShinglesExpr a null token array yields a NULL shingle array,
      // which explode() already drops — so null-text docs get no signature
      // either way. The filter stays as belt-and-suspenders for the mode
      // split downstream: in portable mode md5(null) would be null, which
      // the primitive-Long aggregator buffer can't encode (runtime NPE),
      // while xxhash64 hashes null to the seed — any future shingle source
      // that CAN emit a null element would silently diverge the modes.
      .filter(col("s").isNotNull)
      .select(col("doc_id"),
        pmod(if (portable) md5Long(col("s"), 1) else xxhash64(col("s")), p).as("h1"),
        pmod(if (portable) md5Long(col("s"), 17) else xxhash64(col("s"), lit(1)), p).as("h2"))
    // All `perms` minima in ONE buffer via a typed Aggregator — not `perms`
    // separate MIN aggregates (a 64-buffer HashAggregate generates ~20 s of
    // one-time janino/JIT compilation) and not an exploded permutation
    // index (64× the rows through the aggregate). See [[SketchAggregators]].
    val minAgg = udaf(SketchAggregators.minhash(perms),
      org.apache.spark.sql.Encoders.product[SketchAggregators.HashPair])
    hashed.groupBy("doc_id").agg(minAgg(col("h1"), col("h2")).as("sig"))
  }

  /** MinHash-LSH candidate pairs with estimated Jaccard.
    * Output: doc_a, doc_b, est_jaccard (fraction of agreeing minhashes). */
  /** `maxBucket`: drop LSH buckets holding more than this many docs
    * before the self-join. A hot band (e.g. a boilerplate shingle set
    * shared by 10⁵ docs) otherwise goes quadratic in ONE task — the
    * classic LSH skew failure at scale. Docs in an overflowing bucket
    * still pair through their 15 other bands; buckets that large signal
    * near-identical boilerplate better handled by exact dedup anyway.
    * Default None preserves exact declared-query semantics. */
  /** LSH banding: one (doc_id, sig, band, band_hash) row per band —
    * docs sharing any (band, band_hash) are candidate near-dups. Shared
    * by the batch candidate join and the incremental band state. */
  def bandHashes(sigs: DataFrame, perms: Int, bands: Int): DataFrame = {
    val rows = perms / bands
    sigs.select(
      col("doc_id"), col("sig"),
      posexplode(transform(sequence(lit(0), lit(bands - 1)),
        b => xxhash64(concat_ws(",", slice(col("sig"), b * rows + 1, lit(rows))))))
        .as(Seq("band", "band_hash")))
  }

  def minhashCandidates(documents: DataFrame, perms: Int = 64, bands: Int = 16,
      minEst: Double = 0.0, portable: Boolean = false,
      maxBucket: Option[Int] = None,
      corpusDocs: Option[Long] = None): DataFrame = {
    // materialized HERE, not in candidatesFromSigs: the id-pair shape
    // below reads the signature table three times (banding + both
    // re-attach joins), and recomputing the shingle+hash+UDAF pass per
    // read would dominate; callers of candidatesFromSigs hold persisted/
    // checkpointed sigs that re-read cheaply.
    // Measured both sides of the trade (r14 probes, interleaved minima):
    // sf0.1 pays 0.60 -> 0.92 s (materialize + 3 reads is pure overhead
    // when the whole sig table is a few MB); sf10 wins 12.43 -> 10.92 s;
    // and at sf100 the r11-measured 37 GB double-sided signature band
    // exchange collapses to id pairs + two equi re-attach joins — the
    // scale direction this engine optimizes for.
    // r16: the sf0.1 side of that trade is bought back with the same
    // footer-count gate the other ops use — when the corpus is KNOWN
    // small (hint ≤ [[simhashCompoundMinDocs]]: a 64-perm sig table of
    // 65 k docs is ~34 MB), recomputing the sig pass per read is cheaper
    // than the materialize round-trip. Unknown count keeps the
    // scale-safe materialize. Output identical either way (the sig pass
    // is deterministic).
    val sigs = minhashSignatures(documents, perms, portable)
    val handed =
      if (corpusDocs.exists(_ <= simhashCompoundMinDocs)) sigs
      else Materialize(sigs)
    candidatesFromSigs(handed, perms, bands, minEst, maxBucket)
  }

  /** Candidate pairs from ALREADY-COMPUTED signatures — callers that
    * have signatures in hand (the incremental loop's checkpointed
    * batch, a persisted signature table) must not pay the shingle+hash
    * pass twice. `sigs` is read three times; hand in a materialized /
    * table-backed frame, not a live aggregation (see
    * [[minhashCandidates]]).
    *
    * Shape (r14, probed at sf10): the band self-join carries doc_ids
    * ONLY — candidate (doc_a, doc_b) pairs are deduplicated while
    * skinny, then the two signatures are re-attached by equi-joins on
    * the sig table and the agreement fraction is computed once per
    * PAIR. The previous shape shipped the `perms`-long sig array on
    * BOTH sides of the band exchange and ran the (interpreted,
    * non-codegen) zip_with per COLLISION row: at sf10 that was 9.1×
    * the zip_with volume (15.7 M collision rows vs 1.73 M pairs) and
    * the fat double-sided exchange was the query's largest shuffle
    * (r11 sf100: 37 GB — the id-only band exchange plus two sig-table
    * exchanges is a several-fold reduction at that scale). Interleaved
    * min-of-3 at sf10: 12.43 → 10.92 s with identical output
    * (est_jaccard is a pure function of the two sigs, so max over
    * collision duplicates ≡ the single per-pair computation —
    * `tmp/probe_minhash2_r14.log`). */
  def candidatesFromSigs(sigs: DataFrame, perms: Int = 64, bands: Int = 16,
      minEst: Double = 0.0, maxBucket: Option[Int] = None): DataFrame = {
    val bandedAll = bandHashes(sigs, perms, bands)
      .select(col("band"), col("band_hash"), col("doc_id"))
    val banded = maxBucket match {
      case None => bandedAll
      case Some(cap) =>
        val w = org.apache.spark.sql.expressions.Window.partitionBy("band", "band_hash")
        bandedAll.withColumn("__bn", count(lit(1)).over(w))
          .filter(col("__bn") <= cap).drop("__bn")
    }
    val pairs = banded.select(col("band"), col("band_hash"),
        col("doc_id").as("doc_a"))
      .join(banded.select(col("band"), col("band_hash"),
        col("doc_id").as("doc_b")), Seq("band", "band_hash"))
      .filter(col("doc_a") < col("doc_b"))
      .select("doc_a", "doc_b").distinct()
    pairs
      .join(sigs.select(col("doc_id").as("doc_a"), col("sig").as("sig_a")),
        Seq("doc_a"))
      .join(sigs.select(col("doc_id").as("doc_b"), col("sig").as("sig_b")),
        Seq("doc_b"))
      .select(col("doc_a"), col("doc_b"),
        round(size(filter(zip_with(col("sig_a"), col("sig_b"), (x, y) => x === y),
          eq => eq)) / lit(perms.toDouble), 4).as("est_jaccard"))
      .filter(col("est_jaccard") >= minEst)
  }

  /** SimHash signatures, one row per doc_id: (doc_id, sig).
    * Bit i is set iff the majority of token hashes have bit i set.
    * 64-bit xxhash64 by default; 60-bit md5-derived when `portable`.
    * Relational — explode then one aggregate over an exploded bit index —
    * for the same codegen/compile-time reasons as [[minhashSignatures]]. */
  def simhashSignatures(documents: DataFrame, portable: Boolean = false): DataFrame = {
    val nBits = if (portable) 60 else 64
    // spread on doc_id: parallelizes the tokenize+hash map side on a
    // narrow local scan AND pre-satisfies the signature agg's clustering
    // (same reasoning as minhashSignatures — still one exchange)
    val hashed = Spread.wide(documents, Some(col("doc_id")))
      .select(col("doc_id"), explode(tokens(col("text"))).as("tok"))
      .select(col("doc_id"),
        (if (portable) md5Long(col("tok")) else xxhash64(col("tok"))).as("h"))
    // One buffer of `nBits` bit-sums per doc (see [[SketchAggregators]]),
    // not an exploded bit index — same signatures, 1/nBits the rows.
    val simAgg = udaf(SketchAggregators.simhash(nBits),
      org.apache.spark.sql.Encoders.scalaLong)
    hashed.groupBy("doc_id").agg(simAgg(col("h")).as("sig"))
  }

  /** SimHash near-dup candidates via multi-index pigeonhole: equal
    * 3-block compound key → verify hamming ≤ maxHamming. Output is
    * precisely "all pairs at hamming distance ≤ maxHamming" — a
    * relational semantic an oracle can check without replicating the
    * LSH, and independent of how candidates are generated.
    *
    * Candidate generation: the signature splits into b = maxHamming + 3
    * near-equal blocks; a pair within maxHamming differs in at most
    * maxHamming blocks, so AT LEAST 3 blocks are intact — the pair
    * collides on the compound key of some 3-subset. Joining on all
    * C(b, 3) 3-block keys (hashed to one 64-bit bucket) keeps recall
    * exactly 1 while the per-key collision space is ~3 block-widths
    * wide instead of one. The previous shape (maxHamming+1 single-block
    * keys, 16 bits each at the default) saturated at scale: a FIXED
    * 65,536-key space per block makes in-block collision pairs grow
    * ~n² once n ≫ 65k — measured at sf100 (5 M docs) as 660.6 s wall /
    * 14.8 GB shuffle, 97×/17× per decade (BENCH_sf100_r15, SCALE.md
    * r15). The 3-block compound key (~32 bits at the default) collapses
    * random collisions by ~2^16; bucket-hash collisions only ADD
    * candidates, which the exact hamming filter removes.
    *
    * Cost model: per-doc key fan-out is C(maxHamming + 3, 3) — cubic in
    * maxHamming (20 keys at the default 3, 286 at 10, 969 at 16) — and
    * every key is one exploded+shuffled row, so a large maxHamming
    * multiplies exchange volume cubically while ALSO widening each
    * block's collision space (fewer bits per block). maxHamming > 16 is
    * rejected: past that the compound keys carry < 3 bits per block and
    * the "candidate" join degenerates toward all-pairs.
    *
    * Small-corpus fast path (r16): below ~65 k docs the single-block
    * saturation that motivated the compound keys cannot occur (n ≪ the
    * 2^16 key space), and the 20×-per-doc explode is pure overhead —
    * measured +0.5 s at sf0.1 (BENCH r15 vs r13). When the corpus is
    * known small (`corpusDocs` hint ≤ [[simhashCompoundMinDocs]], served
    * from parquet footer metadata by the declared query at zero Spark
    * jobs), keys fall back to the maxHamming+1 single blocks — same
    * pigeonhole guarantee (≤ h corrupted bits ⇒ some block intact),
    * recall exactly 1, and the exact hamming filter makes both key
    * schemes emit IDENTICAL pairs (OpsSpec pins both shapes ≡ brute
    * force). An unknown count keeps the scale-safe compound keys. */
  def simhashCandidates(documents: DataFrame, maxHamming: Int = 3,
      portable: Boolean = false,
      corpusDocs: Option[Long] = None): DataFrame = {
    require(maxHamming >= 0 && maxHamming <= 16,
      s"simhashCandidates: maxHamming=$maxHamming outside [0, 16] — key " +
        "fan-out is C(maxHamming+3, 3) per doc and blocks lose " +
        "discriminating bits; use minhash/containment for looser matches")
    val nBits = if (portable) 60 else 64
    val compound = !corpusDocs.exists(_ <= simhashCompoundMinDocs)
    val nBlocks = if (compound) maxHamming + 3 else maxHamming + 1
    val widths = Array.tabulate(nBlocks)(i =>
      nBits / nBlocks + (if (i < nBits % nBlocks) 1 else 0))
    val offsets = widths.scanLeft(0)(_ + _)
    def block(i: Int): Column =
      shiftright(col("sig"), offsets(i)).bitwiseAND(lit((1L << widths(i)) - 1))
    val sigs = simhashSignatures(documents, portable)
    val buckets =
      if (compound)
        (0 until nBlocks).combinations(3).toSeq.zipWithIndex.map {
          case (c, ci) => xxhash64(lit(ci), block(c(0)), block(c(1)), block(c(2)))
        }
      else (0 until nBlocks).map(i => xxhash64(lit(i), block(i)))
    val keyed = sigs.select(col("doc_id"), col("sig"),
      explode(array(buckets: _*)).as("bucket"))
    val a = keyed.select(col("bucket"),
      col("doc_id").as("doc_a"), col("sig").as("sig_a"))
    val b = keyed.select(col("bucket"),
      col("doc_id").as("doc_b"), col("sig").as("sig_b"))
    a.join(b, Seq("bucket"))
      .filter(col("doc_a") < col("doc_b"))
      .select(col("doc_a"), col("doc_b"),
        bit_count(col("sig_a").bitwiseXOR(col("sig_b"))).as("hamming"))
      .groupBy("doc_a", "doc_b").agg(min("hamming").as("hamming"))
      .filter(col("hamming") <= maxHamming)
  }

  /** Exact token-set Jaccard over columns toks_a/toks_b (verification stage;
    * feed it LSH candidates — never a full cross join at scale). */
  def jaccardPairs(pairs: DataFrame): DataFrame =
    pairs.withColumn("jaccard",
      round(
        size(array_intersect(col("toks_a"), col("toks_b"))) /
          size(array_union(col("toks_a"), col("toks_b"))).cast("double"), 4))

  /** Distinct-token set column, shared by jaccard producers. */
  def tokenSet(c: Column): Column = array_distinct(tokens(c))

  /** Exact token-set Jaccard pairs ≥ `threshold` via a POSTING-LIST
    * equi-join — the shape that replaced the all-pairs theta join in the
    * declared exact-Jaccard queries (r12, measured at sf10 on the
    * 300-doc grading slices, tmp/lshprobe_sf10.log): `a.join(b,
    * doc_a < doc_b)` plans BroadcastNestedLoop and evaluates
    * array_intersect/array_union per PAIR — ~3 s of fixed wall — while
    * exploding each doc's distinct tokens once and equi-joining on the
    * token computes the identical integers (|A∩B| = shared posting
    * count, |A∪B| = n_a + n_b − shared), so the rounded jaccard is
    * value-identical. Pairs with zero shared tokens never appear, which
    * is why `threshold` must be > 0.
    *
    * Scale contract: pair volume is Σ_token df² — fine on the bounded
    * grading subsets this backs, quadratic on a full corpus with hot
    * tokens. At corpus scale, generate candidates with MinHash/SimHash
    * ([[minhashCandidates]]) or prune hot tokens ([[containmentPairs]]'
    * maxDf) and use [[jaccardPairs]] to VERIFY the bounded candidate
    * set. */
  def tokenJaccardPairs(documents: DataFrame, threshold: Double,
      textCol: String = "text"): DataFrame = {
    require(threshold > 0.0,
      "tokenJaccardPairs: threshold must be > 0 (zero-overlap pairs are pruned)")
    val docs = Spread.wide(documents, Some(col("doc_id")))
    val post = docs.select(col("doc_id"), explode(tokenSet(col(textCol))).as("tk"))
    val sizes = post.groupBy("doc_id").agg(count(lit(1)).as("n_tk"))
    post.select(col("tk"), col("doc_id").as("doc_a"))
      .join(post.select(col("tk"), col("doc_id").as("doc_b")), "tk")
      .filter(col("doc_a") < col("doc_b"))
      .groupBy("doc_a", "doc_b").agg(count(lit(1)).as("__sh"))
      .join(sizes.select(col("doc_id").as("doc_a"), col("n_tk").as("__na")), "doc_a")
      .join(sizes.select(col("doc_id").as("doc_b"), col("n_tk").as("__nb")), "doc_b")
      .withColumn("jaccard", round(col("__sh") /
        (col("__na") + col("__nb") - col("__sh")).cast("double"), 4))
      .filter(col("jaccard") >= threshold)
      .select("doc_a", "doc_b", "jaccard")
  }

  /** Incremental-dedup prefilter: split a new batch against a (possibly
    * huge) historical corpus WITHOUT joining the whole batch.
    *
    * A Bloom filter over the corpus's content hashes is built
    * distributively (`DataFrameStatFunctions.bloomFilter` tree-aggregates
    * partial filters; only the compact bitset reaches the driver) and
    * broadcast into a map-side membership test. Rows the filter rejects
    * are DEFINITELY new — they skip the verification join entirely. Only
    * the "maybe" fraction (true dups + fpp false positives) joins against
    * the corpus hashes for exact confirmation.
    *
    * At 100 TB this is the difference between shuffling the full batch
    * against the corpus and shuffling a few percent of it: the expensive
    * side of the join shrinks by the novelty rate of the batch.
    * Output: batch rows + is_known (exact, no false positives). */
  def bloomPrefilter(batch: DataFrame, corpus: DataFrame,
      expectedItems: Long = 1000000L, fpp: Double = 0.01): DataFrame =
    bloomPrefilterHashes(batch,
      corpus.select(md5(trim(lower(col("text")))).as("h")), expectedItems, fpp)

  /** As [[bloomPrefilter]], but against an already-hashed corpus (column
    * `h` = md5 of canonical text) — the shape the incremental loop uses,
    * where only the compact hash state survives between runs.
    *
    * The membership test is Spark's codegen'd `BloomFilterMightContain`
    * expression (the one runtime row-group filters use) over
    * `xxhash64(h)`, not a per-row Scala UDF — the prefilter stays inside
    * whole-stage codegen, which matters when it screens every row of a
    * 100 TB batch. The filter is built over the same `xxhash64` longs, so
    * the no-false-negative guarantee is preserved; exactness still comes
    * from the verification join. Internal columns use collision-proofed
    * `__graft_*` names so caller columns named `h`/`maybe` survive. */
  def bloomPrefilterHashes(batch: DataFrame, corpusHashes: DataFrame,
      expectedItems: Long = 1000000L, fpp: Double = 0.01): DataFrame =
    bloomPrefilterHashesKeyed(batch, corpusHashes, expectedItems,
      md5(trim(lower(col("text")))), fpp)

  /** As [[bloomPrefilterHashes]], over an arbitrary md5-shaped row-key
    * expression (the URL-dedup loop keys on the canonical URL). */
  def bloomPrefilterHashesKeyed(batch: DataFrame, corpusHashes: DataFrame,
      expectedItems: Long, keyExpr: Column,
      fpp: Double = 0.01): DataFrame = {
    val hc = "__graft_h"
    val mc = "__graft_maybe"
    // null hashes (null text) can't be bloom-tested: drop them from the
    // build and classify null-text batch rows as not-known
    val corpusH = corpusHashes.select(col("h")).filter(col("h").isNotNull)
    val bloom = corpusH.select(xxhash64(col("h")).as("hl"))
      .stat.bloomFilter("hl", expectedItems, fpp)
    val bos = new java.io.ByteArrayOutputStream()
    bloom.writeTo(bos)
    val mightContain = org.apache.spark.sql.GraftColumnBridge.column(
      org.apache.spark.sql.catalyst.expressions.BloomFilterMightContain(
        org.apache.spark.sql.GraftColumnBridge.expression(lit(bos.toByteArray)),
        org.apache.spark.sql.GraftColumnBridge.expression(xxhash64(col(hc)))))
    val tagged = batch.withColumn(hc, keyExpr)
      .withColumn(mc, col(hc).isNotNull && coalesce(mightContain, lit(false)))
    // verification join on the maybe-subset only; anti side is exact-new
    val confirmed = tagged.filter(col(mc))
      .join(corpusH.select(col("h").as(hc)).distinct()
        .withColumn("is_known", lit(true)), Seq(hc), "left")
      .withColumn("is_known", coalesce(col("is_known"), lit(false)))
    val definiteNew = tagged.filter(!col(mc))
      .withColumn("is_known", lit(false))
    confirmed.unionByName(definiteNew).drop(mc, hc)
  }

  /** Connected components over an undirected edge list (columns u, v).
    * Output: (node, label) where label = the smallest node id in the
    * component.
    *
    * Algorithm: min-label hooking + pointer-doubling, Shiloach–Vishkin
    * style — the label-space analogue of the large-star/small-star
    * alternation (Kiveris et al., "Connected Components in MapReduce and
    * Beyond"), with the same O(log n) round bound. Each round runs, in ONE
    * plan:
    *
    *   shortcut: label(u) ← label(label(u))      // halves pointer chains
    *   hook:     label(u) ← min(label(u), min over neighbors v of label(v))
    *
    * Pointer doubling is what breaks the O(diameter) behavior of plain
    * min-label propagation: a length-d chain resolves in ⌈log₂ d⌉ rounds
    * because the shortcut squares the propagation distance even on rounds
    * where hooking finds nothing new. Labels are node ids of the same
    * component and only ever decrease, so the fixpoint test is the
    * monotone "did any label decrease this round", computed as a `chg`
    * flag inside the round's own projection — the convergence probe is a
    * narrow limit-1 scan of the just-checkpointed blocks, never a
    * recompute. At the fixpoint every edge has equal labels on both ends
    * and every label is a component member's id, hence the component min.
    *
    * Scale notes: each round is two shuffle equi-joins + one aggregate
    * over the edge list — O(|E|) work, no driver-side graph.
    * Checkpointing after every round truncates lineage, so the per-round
    * plan is identical in shape (codegen cache hits from round 2 on) and
    * constant in size. Default is `localCheckpoint()` (executor-memory
    * blocks — fine single-node and fastest); pass `checkpointDir` to use
    * RELIABLE `checkpoint()` to that path instead, which is what a real
    * cluster run wants: local checkpoint blocks die with an executor,
    * and losing one mid-algorithm kills the job, so at 1000 executors
    * the reliable form is the only safe one. Deterministic: min is
    * order-independent.
    *
    * Throws if `maxIter` rounds pass without convergence — partially
    * propagated labels would silently mis-cluster downstream. 50 rounds
    * covers any graph a 100 TB corpus can produce (2^50 nodes).
    */
  def connectedComponents(edges: DataFrame, maxIter: Int = 50,
      checkpointDir: Option[String] = None): DataFrame =
    ccWithRounds(edges, maxIter, checkpointDir)._1

  /** [[connectedComponents]] plus the number of rounds it took — lets the
    * test suite pin the O(log n) convergence bound. */
  private[graft] def ccWithRounds(edges: DataFrame, maxIter: Int = 50,
      checkpointDir: Option[String] = None): (DataFrame, Int) = {
    // checkpoint strategy: reliable-storage checkpoint when a dir is
    // given (cluster path) or the graft.checkpoint.dir conf is set,
    // executor-local blocks otherwise
    val materialize = Materialize.fn(edges.sparkSession, checkpointDir)
    // materialize the (possibly expensive) edge plan ONCE, before the
    // union doubles it and the rounds rescan it
    val e0 = materialize(
      edges.select(col("u"), col("v")).filter(col("u") =!= col("v")))
    val sym = materialize(
      e0.union(e0.select(col("v").as("u"), col("u").as("v"))))
    var labels = materialize(sym.groupBy("u").agg(min("v").as("m"))
      .select(col("u").as("node"), least(col("u"), col("m")).as("label")))
    var it = 0
    var done = false
    while (!done && it < maxIter) {
      // shortcut: follow the label pointer one hop. Every label value is
      // itself a node id present in `labels`, so the left join always
      // matches; coalesce is belt-and-braces.
      val jump = labels.select(col("node").as("jnode"), col("label").as("ll_old"))
      val l2 = labels.join(jump, col("label") === col("jnode"), "left")
        .select(col("node"), col("label").as("prev"),
          coalesce(col("ll_old"), col("label")).as("label"))
      // hook: min over neighbors' (shortcut) labels, one agg over edges
      val nbrMin = sym.join(l2.select(col("node").as("v"), col("label")), "v")
        .groupBy("u").agg(min("label").as("nl"))
        .withColumnRenamed("u", "node")
      val next0 = l2.join(nbrMin, Seq("node"), "left")
        .select(col("node"),
          least(col("label"), coalesce(col("nl"), col("label"))).as("label"),
          (least(col("label"), coalesce(col("nl"), col("label"))) < col("prev"))
            .as("chg"))
      val next = materialize(next0)
      done = next.filter(col("chg")).isEmpty
      labels = next.select("node", "label")
      it += 1
    }
    if (!done) throw new IllegalStateException(
      s"connectedComponents did not converge within $maxIter rounds; " +
        "labels would be partially propagated")
    (labels, it)
  }

  /** Cluster assignment for dedup: docs joined by `pairs` (doc_a, doc_b)
    * share a cluster; every other doc is its own singleton cluster.
    * Output per doc: cluster_id (smallest doc_id in the cluster),
    * cluster_size, and is_keeper (true for the one doc to retain — the
    * canonical keep-lowest-id policy). This is the step after candidate
    * generation in a real dedup pipeline: pairs alone don't say which row
    * to drop when dups chain (a~b, b~c but not a~c). */
  def clusters(documents: DataFrame, pairs: DataFrame): DataFrame = {
    val comp = connectedComponents(
      pairs.select(col("doc_a").as("u"), col("doc_b").as("v")))
      .withColumnRenamed("node", "doc_id")
    // sizes on the COMPONENT table, not on the labeled corpus: every
    // comp node came from `pairs` over `documents`, so the per-label
    // count IS the cluster's document count, and docs absent from comp
    // are singletons of size 1 by definition. One small⋈small join,
    // then ONE left join against the corpus — the old shape joined the
    // full documents frame twice (labels, then sizes); at 100 TB the
    // corpus is the big side, so halving big-side joins is the scale
    // shape, and at bench SF it drops a join+agg of fixed overhead
    // (r12, dedup_clusters item).
    val compSized = comp.join(
      comp.groupBy("label").agg(count(lit(1)).as("__cs")), "label")
    documents.select(col("doc_id"))
      .join(compSized, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("label"), col("doc_id")).as("cluster_id"),
        coalesce(col("__cs"), lit(1L)).as("cluster_size"),
        (col("doc_id") === coalesce(col("label"), col("doc_id")))
          .as("is_keeper"))
  }

  /** LSH candidate-recall grading: how many TRUE near-dup pairs
    * (exact Jaccard ≥ threshold) does the banded MinHash-LSH candidate
    * set recover, and how much noise rides along. One row:
    * (n_truth, n_cand, n_hit, recall, precision).
    *
    * This is a GRADING harness, not a production operator: the truth
    * side is the exact all-pairs Jaccard — O(n²) — so run it on a
    * sample/subset to validate (perms, bands) settings before a corpus
    * run, the same role AnnRecallSpec plays for the ANN ops. The LSH
    * side uses the portable (md5) hashing so any engine reproduces the
    * exact candidate set.
    *
    * Truth is Jaccard over the SAME k-shingle sets the signatures
    * sketch (k = 3) — grading banded MinHash against token-SET Jaccard
    * mixes two different similarity measures and reports nonsense
    * (measured: "recall 0.002" on a corpus where almost every doc pair
    * shares half its small vocabulary but almost no 3-shingles). */
  def lshRecall(documents: DataFrame, threshold: Double = 0.5,
      perms: Int = 64, bands: Int = 16): DataFrame = {
    // Truth via a POSTING-LIST equi-join, not all-pairs array Jaccard
    // (r12, measured at sf10 on the declared 300-doc subset,
    // tmp/lshprobe_sf10.log): the old theta join (doc_a < doc_b) planned
    // BroadcastNestedLoop and evaluated array_intersect/array_union over
    // ~hundreds-of-string arrays per PAIR — 2.9 s of the 2.84 s op.
    // Exploding the same distinct shingles once and equi-joining on the
    // shingle computes the identical integers (|A∩B| = shared count,
    // |A∪B| = n_a + n_b − shared, postings are per-doc distinct), so
    // round(shared / (na+nb−shared)) is value-identical to
    // round(|∩|/|∪|) — and pairs with zero shared shingles, which the
    // posting join never emits, cannot pass any threshold > 0.
    require(threshold > 0.0,
      "lshRecall: threshold must be > 0 (zero-overlap pairs are pruned)")
    val docs = Spread.wide(documents, Some(col("doc_id")))
    val shing = docs
      .select(col("doc_id"), tokens(col("text")).as("__t"))
      .select(col("doc_id"), explode(shinglesOf(col("__t"), 3)).as("sh"))
    val sizes = shing.groupBy("doc_id").agg(count(lit(1)).as("n_sh"))
    val truth = shing.select(col("sh"), col("doc_id").as("doc_a"))
      .join(shing.select(col("sh"), col("doc_id").as("doc_b")), "sh")
      .filter(col("doc_a") < col("doc_b"))
      .groupBy("doc_a", "doc_b").agg(count(lit(1)).as("shared"))
      .join(sizes.select(col("doc_id").as("doc_a"), col("n_sh").as("__na")), "doc_a")
      .join(sizes.select(col("doc_id").as("doc_b"), col("n_sh").as("__nb")), "doc_b")
      .withColumn("jaccard", round(col("shared") /
        (col("__na") + col("__nb") - col("shared")).cast("double"), 4))
      .filter(col("jaccard") >= threshold)
      .select(col("doc_a"), col("doc_b"), lit(1).as("t"))
    val cand = minhashCandidates(documents, perms, bands,
        minEst = 0.0, portable = true)
      .select(col("doc_a"), col("doc_b"), lit(1).as("c"))
    truth.join(cand, Seq("doc_a", "doc_b"), "full")
      .agg(count("t").as("n_truth"), count("c").as("n_cand"),
        count(when(col("t").isNotNull && col("c").isNotNull, 1)).as("n_hit"))
      .select(col("n_truth"), col("n_cand"), col("n_hit"),
        // NULL, not ANSI divide-by-zero, when a filtered corpus leaves an
        // empty truth/candidate set — recall of nothing is undefined
        round(when(col("n_truth") > 0,
          col("n_hit") / col("n_truth").cast("double")), 4).as("recall"),
        round(when(col("n_cand") > 0,
          col("n_hit") / col("n_cand").cast("double")), 4).as("precision"))
  }

  /** Repeated-substring spans — substring-level dedup (the "Deduplicating
    * Training Data Makes Language Models Better" observation: verbatim
    * repeats live INSIDE documents that are not duplicates of each
    * other). A token `l`-gram occurring in more than one document marks
    * its start position as duplicated; runs of adjacent duplicated
    * positions merge into maximal spans — the regions a curation
    * pipeline would cut or down-weight.
    *
    * Scale shape (the suffix-array of the paper doesn't distribute; this
    * does): positional shingling is map-only (token array materialized
    * in its own projection — HOF bodies don't CSE with the outer plan);
    * "gram in >1 doc" is `min(doc) ≠ max(doc)` over ONE window keyed by
    * the gram hash — NOT a dup-hash aggregate joined back, which would
    * re-evaluate the whole shingling chain per branch (measured 2×);
    * span-merge is a gaps-and-islands window partitioned by doc (state
    * bounded by doc length, never corpus-wide). The gram travels as md5
    * hex — portable to the oracle, collision-safe. A pathological gram
    * (the same boilerplate in millions of docs) skews its hash
    * partition identically under either shape — AQE's skew handling is
    * the knob there.
    *
    * Output: (doc_id, span_start, span_end, span_tokens) per maximal
    * duplicated span, positions 0-based token offsets, span_end
    * inclusive. */
  def duplicateSpans(documents: DataFrame, l: Int = 5,
      textCol: String = "text"): DataFrame = {
    val toks = documents
      .select(col("doc_id"), graft.functions.WsSplitExpr.wsSplit(trim(lower(col(textCol)))).as("toks"))
      .filter(size(col("toks")) >= l)
    val grams = toks
      .select(col("doc_id"),
        explode(sequence(lit(0), size(col("toks")) - lit(l))).as("pos"),
        col("toks"))
      .select(col("doc_id"), col("pos").cast("long").as("pos"),
        md5(array_join(slice(col("toks"), col("pos") + 1, lit(l)), " ")).as("h"))
    // "shared by ≥ 2 distinct docs" as min/max window over ONE
    // h-exchange. Deliberately NOT hash-agg + semi-join back: gram keys
    // are mostly singletons, so the partial agg reduces nothing, the
    // 50M-distinct-key HashAggregate spills to its sort fallback, and
    // the join re-shuffles the whole gram table a second time — measured
    // 2.5× SLOWER than this form at sf10 (78 s vs 32 s). One
    // shuffle + per-partition sort is the floor for this marking.
    val byH = org.apache.spark.sql.expressions.Window.partitionBy("h")
    val marked = grams
      .withColumn("__lo", min("doc_id").over(byH))
      .withColumn("__hi", max("doc_id").over(byH))
      .filter(col("__lo") =!= col("__hi"))
      .select("doc_id", "pos")
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("doc_id").orderBy("pos")
    marked
      .withColumn("island", col("pos") - row_number().over(w))
      .groupBy("doc_id", "island")
      .agg(min("pos").as("span_start"),
        (max("pos") + lit(l.toLong - 1)).as("span_end"))
      .select(col("doc_id"), col("span_start"), col("span_end"),
        (col("span_end") - col("span_start") + 1).as("span_tokens"))
  }

  /** Cut duplicated spans out of the text — the enforcement half of
    * [[duplicateSpans]] (detect → cut): every token position covered by
    * a duplicated span is dropped and the survivors rejoin in order.
    * Conservative policy: ALL occurrences are cut (no "keeper"
    * occurrence), the right default when repeated boilerplate is noise
    * in every document it touches.
    *
    * Scale: spans per doc ride a `collect_list` into one row (bounded by
    * doc length ÷ l, same class as the chunker), the join back to
    * documents is on doc_id, and the cut itself is a per-row HOF filter
    * — no second corpus shuffle beyond [[duplicateSpans]]'s own.
    *
    * Output: doc_id, n_tokens, n_cut, clean_text (docs with no
    * duplicated span pass through with n_cut = 0). */
  def cutSpans(documents: DataFrame, l: Int = 5,
      textCol: String = "text"): DataFrame = {
    val spans = duplicateSpans(documents, l, textCol)
      .groupBy("doc_id")
      .agg(collect_list(struct(col("span_start"), col("span_end"))).as("spans"))
    val toks = documents.select(col("doc_id"),
      graft.functions.WsSplitExpr.wsSplit(trim(lower(col(textCol)))).as("toks"))
    toks.join(spans, Seq("doc_id"), "left")
      .withColumn("spans", coalesce(col("spans"),
        array().cast("array<struct<span_start:bigint,span_end:bigint>>")))
      .select(col("doc_id"), col("toks"), col("spans"),
        filter(sequence(lit(0L), size(col("toks")).cast("long") - 1L),
          i => !exists(col("spans"),
            sp => i.between(sp("span_start"), sp("span_end")))).as("keep"))
      .select(col("doc_id"),
        size(col("toks")).cast("long").as("n_tokens"),
        (size(col("toks")) - size(col("keep"))).cast("long").as("n_cut"),
        array_join(transform(col("keep"),
          i => element_at(col("toks"), (i + 1L).cast("int"))), " ")
          .as("clean_text"))
  }

  /** Keep-BEST representative per near-dup cluster: where [[clusters]]
    * retains the lowest id (cheap, arbitrary), this ranks members by a
    * caller-supplied score — model quality, length, recency — and keeps
    * the argmax, the policy real curation pipelines want ("of these 4
    * near-identical pages, keep the cleanest one, not the oldest").
    *
    * Output: one row per cluster (cluster_id, keep_id, keep_score,
    * cluster_size). Deterministic: score ties break on doc_id.
    *
    * Scale: cluster labels come from pointer-doubling [[clusters]]; the
    * argmax is GroupedTopK top-1 — ≤1 row per cluster survives each
    * partition before the one shuffle, so the reduction never sorts or
    * windows the full corpus. */
  def bestRepresentatives(documents: DataFrame, pairs: DataFrame,
      score: Column): DataFrame = {
    val scored = clusters(documents, pairs)
      .join(documents.select(col("doc_id"),
        round(score, 4).as("__score")), "doc_id")
    graft.plans.GroupedTopK.perKey(scored, "cluster_id",
        Seq("__score" -> false, "doc_id" -> true), 1)
      .select(col("cluster_id"), col("doc_id").as("keep_id"),
        col("__score").as("keep_score"),
        col("cluster_size").cast("long").as("cluster_size"))
  }

  /** Asymmetric shingle containment C(a→b) = |S_a ∩ S_b| / |S_a| — the
    * quote/superset detector Jaccard misses: a short doc fully embedded
    * in a long one has low Jaccard (the union is huge) but containment
    * ≈ 1 in the contained direction.
    *
    * Scale shape — an inverted-index self-join, never an all-pairs
    * product: distinct shingles explode to a posting list; shingles with
    * document frequency > `maxDf` are dropped FIRST (a stopword-like
    * shingle contributes O(df²) pairs and no discriminative signal —
    * the standard hot-key cap, and the df prune reuses the posting
    * partitioning by shingle for both the df join and the pair
    * self-join); per-doc shingle sizes are counted over the SAME pruned
    * postings, so the ratio is self-consistent. Both directions of every
    * co-shingled pair are emitted; the `tau` filter keeps the contained
    * ones. */
  /** `skewSafe`: defuse the hot-shingle skew bomb. The exact df prune
    * happens AFTER the repartition-by-sh, so a boilerplate shingle shared
    * by 10⁸ docs would land all its postings in ONE reduce partition (a
    * straggler sorting gigabytes it is about to discard). With
    * `skewSafe = true`, a Count-Min sketch of shingle frequencies is
    * built in one extra (skew-immune, partial-aggregated) pass,
    * collected to the driver (`depth·width` longs — ~1 MB at the default
    * eps, a control-plane artifact like the k-means centroids), and
    * probed as a single array-literal expression so hot shingles are cut
    * BEFORE the exchange.
    *
    * The cut is NOISE-AWARE (r10 fix): CMS never underestimates, and
    * overestimates are bounded by eps·N (N = total postings) w.h.p., so
    * the prefilter drops a shingle only when `est > maxDf + eps·N` —
    * which implies its TRUE df exceeds maxDf, i.e. the exact window
    * prune downstream would discard it anyway. Both modes therefore
    * compute the SAME result at every scale (up to the CMS δ ≈
    * e^−depth failure probability). The r9 shape cut at `est > maxDf`
    * directly; once eps·N crossed maxDf (~1M postings at the default
    * eps — sf1 in this sandbox) collision noise false-dropped COOL
    * shingles, silently shrinking denominators and shifting ratios
    * (measured at sf1: 5477 vs 5320 pairs) — and the r9 sf10 "6×
    * skewSafe win" was largely that drift computing less, not a real
    * crossover. The corrected prefilter still kills genuine boilerplate
    * (df ≫ maxDf + eps·N: the 10⁸-doc case it exists for) but now
    * passes mid-frequency shingles through to the exact prune.
    * ContainmentSkewSpec pins mode agreement AND the hot-shingle cut. */
  /** r11 pair-stage anatomy (measured at sf10, tmp/cprobe2_sf10.log +
    * DuckDB df profile): posting build 0.44 s, window df prune 3.3 s —
    * the other ~34 s of the 37 s probe was the PAIR tail: 126.6 M
    * pair-stream rows aggregate to 113 M DISTINCT pairs (partial agg
    * reduces only 10% — co-shingled pairs rarely repeat across
    * partitions), of which 99.95% are noise a tau filter kills — but
    * the old shape mirrored ALL of them first (226 M rows) and joined
    * sizes AFTER, and that join silently flipped from broadcast-hash
    * (sf1: 50 k sizes ≈ 1 MB) to sort-merge (sf10: 500 k ≈ 12 MB >
    * the 10 MB threshold) — a full 226 M-row sort appearing exactly
    * between sf1 and sf10 was the "14× wall for 10× data".
    * Three candidate redesigns MEASURED AND REJECTED (r11, SCALE.md
    * "Round 11 — pair-stage anatomy"): exact hot-shingle broadcast-anti
    * prune
    * (39.1 s vs 37.3 s — the window prune was never the cost);
    * SHUFFLE_HASH pair-join hints (60.6 s — hash build beats nothing
    * when the SMJ sort rides the existing exchange); and the
    * AllPairs/PPJoin df-ascending PREFIX FILTER (index only each doc's
    * rarest ⌊(1−tau)·n⌋+1 shingles, verify candidates) — its candidate
    * stream MEASURED LARGER than the full pair stream on this corpus
    * (169 M prefix×full products vs 127 M unordered pairs at sf10,
    * DuckDB profile): at tau = 0.3 prefixes keep 70% of every doc and
    * the df distribution is too flat (avg df ≈ 10, no Zipf head) for
    * rarest-first ordering to bite. Prefix filtering pays off at high
    * tau on Zipfian corpora — not here, and not worth +3 exchanges.
    * The shape that ships: join BOTH directions' n_sh onto the
    * one-direction agg output (113 M rows, still in the agg's stage),
    * filter `max(ca, cb) ≥ tau` THERE, and mirror only the survivors
    * (~0.05%). The n_sh lookups broadcast when the corpus is small
    * enough to know it is safe (`corpusDocs` hint ≤
    * `broadcastSizesMaxDocs`, 12 bytes/doc ⇒ ~200 MB at the 16 M
    * default; the declared query serves the hint from parquet footer
    * metadata at zero Spark jobs, and an unknown count falls back to
    * one `documents.count()` job at plan-construction time) and fall
    * back to shuffled joins beyond — still early-filtered, never the
    * post-mirror 2× volume. */
  def containmentPairs(documents: DataFrame, k: Int = 3, tau: Double = 0.5,
      maxDf: Int = 100, textCol: String = "text",
      skewSafe: Boolean = false, cmsEps: Double = 1e-4,
      cmsDepth: Int = 4, cmsSeed: Int = 42,
      broadcastSizesMaxDocs: Long = 16000000L,
      corpusDocs: Option[Long] = None): DataFrame = {
    // 60-bit md5 keys: the df count, prune join, and pair self-join all
    // shuffle 8-byte longs instead of k-word shingle strings (md5 is
    // shared with the DuckDB oracle, so counts stay value-checkable).
    // The posting table has three consumers (df counts, sizes, both
    // self-join sides). The explicit repartition-on-sh is the ONE
    // canonical exchange they all hang off: Spark's exchange reuse runs
    // the scan+split+shingle+md5 map side once and every consumer reads
    // the shuffle output — same sharing the r7 localCheckpoint bought,
    // without the eager write/read of the whole posting table through
    // executor storage. (Without the repartition each consumer plants a
    // DIFFERENT exchange — partial-agg vs join-probe — and the shingle
    // map side runs 3×: measured 2.5× slower.)
    // The tokenize+shingle+md5 map side is the single most expensive
    // per-row work in the op; if the scan arrives in fewer partitions
    // than the cluster has slots (one unsplittable row group locally —
    // measured two ~1 s single-task stages), spread the DOCUMENTS first.
    // At real scale the input is already wide and this adds nothing.
    val post0 = Spread.wide(documents, Some(col("doc_id")))
      .select(col("doc_id"), tokens(col(textCol)).as("__t"))
      .select(col("doc_id"), explode(shinglesOf(col("__t"), k)).as("__sh"))
      .select(col("doc_id"), md5Long(col("__sh")).as("sh"))
    val prefiltered = if (!skewSafe) post0 else {
      val width = math.max(64L, math.ceil(math.E / cmsEps).toLong)
      // the sketch is a dense driver-side Int-indexed array: an extreme
      // eps would silently overflow the Int index space (negative
      // indices / truncated allocation) instead of failing loudly
      require(cmsDepth.toLong * width <= Int.MaxValue,
        s"containmentPairs: cmsDepth=$cmsDepth × width=$width exceeds " +
          s"Int.MaxValue — raise cmsEps (sketch must stay driver-sized)")
      def bucket(d: Int, v: Column): Column =
        pmod(xxhash64(lit(cmsSeed), lit(d), v), lit(width))
      // CMS build: one skew-immune pass (groupBy(d,bucket) partial-aggs
      // per map partition, so a hot shingle contributes ONE row per
      // partition per depth, never its full posting volume)
      val counters = post0
        .select(explode(array((0 until cmsDepth).map(d =>
          struct(lit(d).as("d"), bucket(d, col("sh")).as("b"))): _*)).as("db"))
        .groupBy(col("db.d").as("d"), col("db.b").as("b"))
        .agg(count(lit(1)).as("cnt"))
        .collect()
      val dense = Array.fill(cmsDepth * width.toInt)(0L)
      counters.foreach(r =>
        dense(r.getInt(0) * width.toInt + r.getLong(1).toInt) = r.getLong(2))
      // probe as ONE array literal: est = min over depths of the bucket
      // counter — pure codegen builtins, evaluated map-side pre-exchange
      val cmsLit = typedlit(dense.toSeq)
      val est = least((0 until cmsDepth).map(d =>
        element_at(cmsLit, (lit(d.toLong * width) + bucket(d, col("sh")))
          .cast("int") + 1)): _*)
      // noise-aware cut (see Scaladoc): est > maxDf + eps·N ⇒ true df >
      // maxDf w.h.p. — only shingles the exact prune would drop anyway.
      // N is free: each depth row of the sketch sums to the posting
      // count, so read it off depth 0 driver-side.
      val totalPostings = dense.view.slice(0, width.toInt).sum
      val noiseFloor = math.ceil(cmsEps * totalPostings).toLong
      post0.filter(est <= lit(maxDf.toLong + noiseFloor))
    }
    // One `documents` count serves BOTH plan-shape gates below (sizes
    // broadcast; explicit exchange widths). From the `corpusDocs` hint
    // when the caller has it — the declared query reads parquet footer
    // metadata, zero Spark jobs — else one count() at plan construction.
    val nDocs = corpusDocs.getOrElse(documents.count())
    // Explicit exchange width for large corpora (see
    // [[containmentExplicitWidthMinDocs]] — AQE's byte-target coalescing
    // cannot see the post-exchange pair explosion and under-partitions
    // the agg stages into sort-fallback spill). ~8000 docs/partition
    // puts ~2 M pair rows and a ~60 MB agg hash map in each task at this
    // op's measured fan-outs (≈52 postings, ≈250 pair rows per doc at
    // maxDf=100); never below the session width (a cluster-sized config
    // outranks the heuristic), capped at 4096 like the SCALE.md guidance.
    val explicitW: Option[Int] =
      if (nDocs <= containmentExplicitWidthMinDocs) None
      else {
        val sessionW = documents.sparkSession.conf
          .get("spark.sql.shuffle.partitions").toInt
        Some(math.max(sessionW, math.min(4096L, nDocs / 8000L).toInt))
      }
    val post = explicitW match {
      case Some(w) => prefiltered.repartition(w, col("sh"))
      case None => prefiltered.repartition(col("sh"))
    }
    // df prune as a WINDOW count over the sh-partitioning, not a
    // count-agg + self-join: the window rides the exchange that already
    // exists, its sh-sort is exactly the order the pair SMJ needs next,
    // and the plan loses one aggregate pass plus one join (measured
    // -0.7 s at sf0.1). O(postings) rows, O(1) state per shingle run.
    val kept = post
      .withColumn("__df", count(lit(1)).over(
        org.apache.spark.sql.expressions.Window.partitionBy("sh")))
      .filter(col("__df") <= maxDf).drop("__df")
    val sizes = kept.groupBy("doc_id").agg(count(lit(1)).as("n_sh"))
    // shared-count is symmetric: join one direction (halving the pair
    // blowup, the dominant cost), then mirror the AGGREGATED pairs with
    // an explode — never a union, which would re-execute the chain.
    // Large corpora interpose an EXPLICIT pair-key exchange before the
    // distinct-pair agg (r16 sf100 autopsy: the agg was +254 s of the
    // 477 s prefix wall, 153 GB mem-spill). Effect on the physical plan:
    // the partial agg moves ABOVE the exchange — the join stage streams
    // pairs straight into the shuffle writer with NO hash map (partial
    // agg map-side reduced only ~10% anyway: co-shingled pairs rarely
    // repeat across sh-partitions), and partial+final run back-to-back
    // post-exchange where the explicit width pins per-task cardinality
    // to ~2 M keys. Costs ~12% more exchange bytes (the unreduced
    // stream); buys away the sort-fallback spill entirely.
    val pairStream = kept.select(col("sh"), col("doc_id").as("doc_a"))
      .join(kept.select(col("sh"), col("doc_id").as("doc_b")), "sh")
      .filter(col("doc_a") < col("doc_b"))
    val pairKeyed = explicitW match {
      case Some(w) => pairStream.repartition(w, col("doc_a"), col("doc_b"))
      case None => pairStream
    }
    val oneDir = pairKeyed
      .groupBy("doc_a", "doc_b").agg(count(lit(1)).as("shared"))
    // n_sh for BOTH directions joined onto the one-direction agg, tau
    // filtered BEFORE the mirror — 99.95% of aggregated pairs die here
    // (see the Scaladoc anatomy). The n_sh table is 12 bytes/doc:
    // broadcast it when the corpus count says it fits, else shuffled
    // joins — never let the planner flip silently on a size estimate,
    // which is how the 226 M-row SMJ sort appeared between sf1 and sf10.
    // The count comes from `corpusDocs` when the caller knows it (the
    // declared query serves it from parquet footer metadata,
    // Tables.footerRowCount — zero Spark jobs); ONLY when unknown does
    // the gate fall back to counting `documents` here, which executes
    // the input's upstream plan once at plan-construction time — a real
    // side effect on derived inputs, so pass the hint when you can.
    val sizesA = sizes.select(col("doc_id").as("doc_a"), col("n_sh").as("n_sh_a"))
    val sizesB = sizes.select(col("doc_id").as("doc_b"), col("n_sh").as("n_sh_b"))
    val bcast = nDocs <= broadcastSizesMaxDocs
    val withSizes =
      if (bcast) oneDir.join(broadcast(sizesA), "doc_a")
        .join(broadcast(sizesB), "doc_b")
      else oneDir.join(sizesA, "doc_a").join(sizesB, "doc_b")
    withSizes
      .withColumn("__ca", round(col("shared") / col("n_sh_a").cast("double"), 4))
      .withColumn("__cb", round(col("shared") / col("n_sh_b").cast("double"), 4))
      .filter(col("__ca") >= tau || col("__cb") >= tau)
      .select(explode(array(
        struct(col("doc_a"), col("doc_b"), col("shared"),
          col("n_sh_a"), col("__ca").as("containment")),
        struct(col("doc_b").as("doc_a"), col("doc_a").as("doc_b"),
          col("shared"), col("n_sh_b").as("n_sh_a"),
          col("__cb").as("containment")))).as("__p"))
      .select(col("__p.doc_a").as("doc_a"), col("__p.doc_b").as("doc_b"),
        col("__p.shared").as("shared"), col("__p.n_sh_a").as("n_sh_a"),
        col("__p.containment").as("containment"))
      .filter(col("containment") >= tau)
  }
}
