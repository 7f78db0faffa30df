package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Text-quality operators for training-data pipelines: token counting,
  * quality scoring, language ID, fingerprinting. All per-row expression
  * work (no shuffle, no UDF) — map-side only, embarrassingly parallel at
  * any scale.
  */
object TextAnalysis {

  def toks(c: Column): Column =
    graft.functions.WsSplitExpr.wsSplit(trim(c)) // codegen byte-scan ≡ split(_, "\\s+")

  /** Whitespace token count. */
  def tokenCount(c: Column): Column = size(toks(c))

  private[graft] val stopwords = Seq("the", "a", "of", "and", "to", "in", "is")

  /** ONE native byte walk (TokenSetCountExpr) since r18 — the filter +
    * isin form re-compared every token interpreted; TokenSetCountSpec
    * keeps that form and pins the two identical. */
  def stopwordCount(c: Column): Column =
    graft.functions.TokenSetCountExpr.tokenSetCount(lower(c), stopwords)

  def punctCount(c: Column): Column =
    length(c) - length(regexp_replace(c, "[.,;:!?]", ""))

  /** Quality features: n_tokens, stop_ratio, punct_ratio, avg_token_len. */
  def qualityFeatures(documents: DataFrame, textCol: String = "text"): DataFrame = {
    val t = col(textCol)
    documents
      .withColumn("n_tokens", tokenCount(t).cast("long"))
      .withColumn("stop_ratio",
        round(stopwordCount(t) / greatest(tokenCount(t), lit(1)).cast("double"), 4))
      .withColumn("punct_ratio",
        round(punctCount(t) / greatest(length(t), lit(1)).cast("double"), 4))
      .withColumn("avg_token_len",
        round((length(t) - (tokenCount(t) - 1)) /
          greatest(tokenCount(t), lit(1)).cast("double"), 4))
  }

  /** Tiny stopword-profile language ID (n-gram/marker heuristic).
    * Deterministic; scores five languages by marker-token hits. */
  val langMarkers: Seq[(String, Seq[String])] = Seq(
    "en" -> Seq("the", "and", "of", "is", "with", "fast", "slow"),
    "es" -> Seq("el", "la", "de", "y", "que", "los"),
    "fr" -> Seq("le", "la", "de", "et", "les", "des"),
    "de" -> Seq("der", "die", "das", "und", "ist", "mit"),
    "pt" -> Seq("o", "a", "de", "e", "os", "das"))

  /** Predicted language = argmax marker hits, ties → alphabetical first.
    * ONE native byte walk ([[graft.functions.LangIdExpr]]) since r18: the
    * declarative marker-score form tokenized the doc once per language
    * (HOF lambda bodies never CSE) through interpreted ArrayFilters —
    * 170 µs/doc at sf0.1. `LangIdSpec` keeps that form and pins
    * the two bit-identical. */
  def langId(documents: DataFrame, textCol: String = "text"): DataFrame =
    documents.withColumn("pred_lang",
      graft.functions.LangIdExpr.pick(col(textCol), langMarkers))

  /** End-to-end curation: the canonical training-data filter chain, one
    * auditable row per input doc. drop_reason (first failing rule wins):
    *  - "quality"   — too short / too stopword-heavy / too much punctuation
    *  - "language"  — predicted language not in the accept list
    *  - "duplicate" — another surviving doc has the same content
    *    fingerprint and a lower doc_id (keep-lowest-id policy)
    *  - null        — kept.
    *
    * Scale: quality + language are pure per-row expressions (map-only);
    * the dedup stage is one window over the content fingerprint of the
    * *surviving* subset — filter first, dedup the survivors, never the
    * raw corpus. */
  def curate(documents: DataFrame, minTokens: Int = 20,
      maxStopRatio: Double = 0.15, maxPunctRatio: Double = 0.2,
      langs: Seq[String] = Seq("en", "es")): DataFrame = {
    val base = langId(qualityFeatures(documents))
      .withColumn("q_ok", col("n_tokens") >= minTokens &&
        col("stop_ratio") <= maxStopRatio && col("punct_ratio") <= maxPunctRatio)
      .withColumn("l_ok", col("pred_lang").isin(langs: _*))
    // keeper per content group via a CONDITIONAL window min — only
    // gate-surviving rows compete. One window shuffle on the content
    // hash; the previous self-join form evaluated the whole
    // quality+langId expression chain twice.
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(md5(concat_ws(" ", toks(lower(col("text"))))))
    base
      .withColumn("keep_id",
        min(when(col("q_ok") && col("l_ok"), col("doc_id"))).over(w))
      .select(col("doc_id"), col("pred_lang"), col("n_tokens"),
        when(!col("q_ok"), lit("quality"))
          .when(!col("l_ok"), lit("language"))
          .when(col("doc_id") =!= col("keep_id"), lit("duplicate"))
          .as("drop_reason"))
  }

  /** Sliding-window document chunking for sequence training: token
    * windows of `size` advancing by `stride` (overlap = size − stride
    * keeps context across boundaries). Chunk starts are arithmetic on
    * the token count — one `sequence` + `explode`, map-only, no UDF —
    * and a short document yields exactly one (possibly short) chunk.
    * Output: doc_id, chunk_id, n_chunk_tokens, chunk_text. */
  def chunk(documents: DataFrame, textCol: String = "text",
      window: Int = 64, stride: Int = 48): DataFrame = {
    // Spark's / on longs is double division — floor() it for the
    // ceil-div; counts are far below double's exact-integer range
    val lastChunk = when(col("__n") <= window, lit(0L))
      .otherwise(floor(((col("__n") - window) + (stride - 1)) / stride))
    // Spread: tokenize+slice+join per chunk must not serialize in one
    // task on a narrow scan (single local row group); no-op at scale
    Spread.wide(documents)
      .withColumn("__toks", toks(col(textCol)))
      .withColumn("__n", size(col("__toks")).cast("long"))
      .withColumn("chunk_id", explode(sequence(lit(0L), lastChunk.cast("long"))))
      .withColumn("__chunk", slice(col("__toks"),
        (col("chunk_id") * stride + 1).cast("int"), lit(window)))
      .select(col("doc_id"), col("chunk_id"),
        size(col("__chunk")).cast("long").as("n_chunk_tokens"),
        concat_ws(" ", col("__chunk")).as("chunk_text"))
  }

  /** PII patterns kept RE2-compatible (no backrefs/lookaround) so any
    * engine can reproduce counts and redactions exactly. */
  val emailRe = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"
  val phoneRe = "\\+?[0-9][0-9()\\- ]{7,}[0-9]"

  /** PII detection + redaction for training-data curation: per-doc
    * match counts, a has_pii flag, and the text with emails/phones
    * replaced by placeholder tags (emails first, so phone digits inside
    * addresses are already gone). Map-only at any scale; since r18 the
    * whole surface is ONE native expression
    * ([[graft.functions.PiiScanExpr]] — three byte walks, no regex
    * machinery) instead of four `java.util.regex` passes per row
    * (measured 15.3× the oracle at sf10 — r17 VERDICT item 3).
    * `PiiScanSpec` keeps the declarative regexp form and pins
    * the two bit-identical. */
  def piiFeatures(documents: DataFrame, textCol: String = "text"): DataFrame = {
    val t = col(textCol)
    documents
      .withColumn("__pii", graft.functions.PiiScanExpr.piiScan(t))
      .withColumn("n_emails", col("__pii.n_emails"))
      .withColumn("n_phones", col("__pii.n_phones"))
      .withColumn("has_pii", col("n_emails") > 0 || col("n_phones") > 0)
      .withColumn("redacted", col("__pii.redacted"))
      .drop("__pii")
  }

  /** 64-bit content fingerprint (xxhash64 of the canonicalized token stream). */
  def fingerprint(c: Column): Column =
    xxhash64(concat_ws(" ", toks(lower(c))))

  /** Cross-engine 60-bit content fingerprint over the same canonical
    * token stream, via [[graft.ops.Dedup.md5Long]] — reproducible in any
    * engine with md5, which makes the declared query oracle-checkable.
    * DuckDB: `CAST('0x' || substr(md5(canon), 1, 15) AS BIGINT)`. */
  def fingerprintPortable(c: Column): Column =
    Dedup.md5Long(concat_ws(" ", toks(lower(c))))

  /** Word n-grams over an ALREADY-MATERIALIZED token-array column
    * (distinct by default; `distinct = false` keeps the multiset for
    * frequency analysis); empty array below n tokens.
    *
    * Takes tokens, not raw text — one tokenize per row, shared across
    * every consumer of the array. Now a native codegen expression: the
    * declarative `transform()` form it replaces re-evaluated its lambda
    * body per gram (interpreted; an inlined split() ran once PER GRAM
    * INDEX, measured ~10×) and `array_distinct` compared pairwise. */
  def wordNgrams(t: Column, n: Int, distinct: Boolean = true): Column =
    graft.functions.ShinglesExpr.ngrams(t, n, distinct)

  /** Benchmark decontamination: flag training docs sharing any word
    * `n`-gram with the eval/held-out set — the standard pre-training
    * hygiene pass (eval answers leaking into the corpus inflate scores).
    *
    * Scale shape: the eval side is benchmark-sized (thousands of docs),
    * so its distinct n-gram set BROADCASTS; the train side is one narrow
    * scan → explode → broadcast-hash left join → partial-agg count. The
    * 100 TB corpus is touched once, shuffles only the per-doc counts, and
    * never sees a shuffle join. Output per train doc: n_grams, n_shared
    * (distinct grams also in eval), contaminated. */
  def decontaminate(train: DataFrame, evalSet: DataFrame, n: Int = 5,
      textCol: String = "text"): DataFrame = {
    val evalGrams = evalSet
      .select(toks(lower(col(textCol))).as("__t"))
      .select(explode(wordNgrams(col("__t"), n)).as("g")).distinct()
    train
      .select(col("doc_id"), toks(lower(col(textCol))).as("__t"))
      .select(col("doc_id"), wordNgrams(col("__t"), n).as("grams"))
      .select(col("doc_id"), size(col("grams")).cast("long").as("n_grams"),
        explode_outer(col("grams")).as("g"))
      .join(broadcast(evalGrams.withColumn("__hit", lit(1L))), Seq("g"), "left")
      .groupBy("doc_id", "n_grams")
      .agg(coalesce(sum("__hit"), lit(0L)).as("n_shared"))
      .select(col("doc_id"), col("n_grams"), col("n_shared"),
        (col("n_shared") > 0).as("contaminated"))
  }

  /** Leakage-safe train/eval split — the composition every benchmark-
    * honest pipeline runs: deterministic hash split
    * ([[Sampling.hashSplit]]), then the n-gram decontamination gate
    * ([[decontaminate]]) pointed at the split's OWN eval side, so a
    * train document sharing any word n-gram with the held-out set is
    * flagged before it can leak. Output per doc: split, shared-gram
    * count (0 for eval rows), and the keep decision (eval rows always
    * keep; train rows keep iff clean).
    *
    * Scale shape: the split is a map-side hash (no shuffle); eval grams
    * broadcast exactly as in the standalone gate; the final decision is
    * one left join on doc_id. */
  def splitDecontaminated(documents: DataFrame, trainPct: Int = 80,
      n: Int = 5, textCol: String = "text"): DataFrame = {
    val split = Sampling.hashSplit(documents, "doc_id", trainPct)
    val flags = decontaminate(
        split.filter(col("split") === "train"),
        split.filter(col("split") === "val"), n, textCol)
      .select(col("doc_id"), col("n_shared"), col("contaminated"))
    split.select(col("doc_id"), col("split"))
      .join(flags, Seq("doc_id"), "left")
      .select(col("doc_id"), col("split"),
        coalesce(col("n_shared"), lit(0L)).as("n_shared"),
        (col("split") === "val" || !col("contaminated")).as("keep"))
  }

  /** Gopher-class repetition signals per doc: unique-word fraction and
    * the share of the most frequent word 2-gram. High top-2-gram share /
    * low unique fraction = boilerplate or degenerate repetition — the
    * cheap structural complement of [[qualityFeatures]].
    *
    * ONE text scan: word stats are native array expressions computed in
    * the same projection that explodes the 2-grams, then ride the two
    * partial-agg shuffles (per (doc, gram), then per doc) as first()
    * passengers — no second scan, no extra join exchange. Never an
    * interpreted per-doc frequency loop, which is the 10× HOF trap. */
  def repetitionSignals(documents: DataFrame, textCol: String = "text"): DataFrame = {
    val t = col("__t")
    // MAP-ONLY since r18: a document's most-repeated bigram count is a
    // pure function of its OWN gram array, so the per-doc stats come
    // from one native pass over that array
    // (functions.ArrayMaxMultExpr) — the previous explode →
    // groupBy(doc, gram) → groupBy(doc) shape pushed the whole gram
    // stream through two exchanges to compute what never needed to
    // leave the row. Zero shuffles at any scale.
    documents.select(col("doc_id"), toks(lower(col(textCol))).as("__t"))
      .select(col("doc_id"),
        size(t).cast("long").as("n_tokens"),
        when(size(t) > 0, round(size(array_distinct(t)).cast("double") / size(t), 4))
          .otherwise(lit(0.0)).as("uniq_word_frac"),
        wordNgrams(t, 2, distinct = false).as("__g"))
      .select(col("doc_id"), col("n_tokens"), col("uniq_word_frac"),
        size(col("__g")).cast("long").as("n_2grams"),
        graft.functions.ArrayMaxMultExpr.arrayMaxMult(col("__g"))
          .cast("long").as("top2_count"))
      .withColumn("top2_frac",
        when(col("n_2grams") > 0,
          round(col("top2_count").cast("double") / col("n_2grams"), 4))
          .otherwise(lit(0.0)))
  }

  /** TF-IDF per (doc, term): tf = term count in doc, df = docs containing
    * term, idf = ln(N / df), weight = tf · idf.
    *
    * Fully relational: one explode, two partial-aggregated shuffles (by
    * (doc, term) then term), and a broadcast-sized term-df join at typical
    * vocabulary cardinalities. No driver collect — N is a scalar subquery
    * via cross join of a 1-row aggregate. */
  def tfidf(documents: DataFrame, textCol: String = "text"): DataFrame = {
    // NO Spread here (r18 A/B): the WsSplitExpr tokenize + explode map
    // side is cheap enough that exchanging the raw text costs more than
    // the serial scan it fixes (1.02 s → 1.29 s measured at sf0.1)
    val terms = documents
      .select(col("doc_id"), explode(toks(lower(col(textCol)))).as("term"))
      .filter(col("term") =!= "")
    val tf = terms.groupBy("doc_id", "term").agg(count(lit(1)).as("tf"))
    val df = tf.groupBy("term").agg(count(lit(1)).as("df"))
    val n = documents.agg(count(lit(1)).as("n_docs"))
    tf.join(df, "term")
      .crossJoin(broadcast(n))
      .withColumn("tfidf",
        round(col("tf") * log(col("n_docs").cast("double") / col("df")), 4))
  }

  /** Canonical text cleanup: strip C0/DEL control characters (EXCEPT
    * tab/newline/CR — those are whitespace and belong to the collapse
    * step; deleting them would weld adjacent words together), Unicode NFC
    * (composed forms — see [[graft.functions.NfcNormalizeExpr]]), collapse
    * whitespace runs to single spaces, trim. This exact order matters and
    * is pinned by the `text_normalize` oracle: control chars must go
    * before whitespace collapsing (a stripped control char can join two
    * spaces into one run), and NFC before anything that counts characters.
    *
    * Pure map-side expression chain — composes with every downstream op
    * (dedup hashing, shingles, token counts) without a shuffle. */
  def normalizeText(c: Column): Column =
    trim(regexp_replace(
      graft.functions.NfcNormalizeExpr(
        regexp_replace(c, "[\\x00-\\x08\\x0B\\x0C\\x0E-\\x1F\\x7F]", "")),
      "\\s+", " "))

  /** Normalization surface per doc: cleaned text plus the before/after
    * character counts and an `was_nfc` flag (true when the raw text was
    * already NFC — on a clean corpus the normalize pass is ~free, and the
    * flag measures exactly how much of the corpus pays the slow path). */
  def normalize(documents: DataFrame, textCol: String = "text"): DataFrame = {
    val t = col(textCol)
    documents.select(col("doc_id"),
      length(t).cast("long").as("raw_len"),
      normalizeText(t).as("clean_text"),
      (graft.functions.NfcNormalizeExpr(t) === t).as("was_nfc"))
      .withColumn("clean_len", length(col("clean_text")).cast("long"))
  }

  /** C4-class boilerplate line filter: keep only lines with at least
    * `minWords` words AND terminal punctuation (`.`, `!`, `?`). Menus,
    * nav crumbs, cookie banners, and list fragments — the bulk of web
    * boilerplate — fail one of the two tests; prose passes both.
    *
    * Per-row array expressions only (split → filter → array_join): no
    * shuffle, no UDF, whole-stage codegen end to end. The doc survives
    * with `clean_text` = kept lines rejoined; `n_lines`/`n_kept` feed a
    * downstream drop-if-empty or kept-ratio quality gate. */
  def boilerplateFilter(documents: DataFrame, textCol: String = "text",
      minWords: Int = 5): DataFrame = {
    val lines = split(col(textCol), "\n")
    // both predicates over the TRIMMED line: testing punctuation on the
    // raw line drops real prose with trailing whitespace ('A sentence. ')
    val kept = filter(lines, l => {
      val lt = trim(l)
      (size(graft.functions.WsSplitExpr.wsSplit(lt)) >= minWords) && lt.rlike("[.!?]$")
    })
    documents.select(col("doc_id"),
      size(lines).cast("long").as("n_lines"),
      size(kept).cast("long").as("n_kept"),
      array_join(kept, "\n").as("clean_text"))
  }

  /** Corpus-level most-frequent word n-grams: the standard "what
    * boilerplate dominates this crawl" diagnostic (and the source of
    * stop-gram lists for [[repetitionSignals]]-style filters).
    *
    * Shape at scale: explode is map-side; the count is partial-aggregated
    * before its single shuffle (gram cardinality, not corpus size, crosses
    * the wire); the top-k is TakeOrderedAndProject — per-partition heaps
    * of k rows to the driver, never a global sort. Ties broken by gram
    * text for determinism. */
  def ngramTopK(documents: DataFrame, n: Int = 2, k: Int = 50,
      textCol: String = "text"): DataFrame =
    // Spread: the tokenize+gram map side must not serialize in one task
    // when the scan arrives narrow (single local row group); no-op at scale
    Spread.wide(documents)
      .select(toks(lower(col(textCol))).as("__t"))
      .select(explode(wordNgrams(col("__t"), n, distinct = false)).as("gram"))
      .groupBy("gram").agg(count(lit(1)).as("freq"))
      .orderBy(desc("freq"), asc("gram"))
      .limit(k)

  /** Model-based quality gate: a hand-distilled linear scorer over the
    * [[qualityFeatures]] signals, squashed through a sigmoid. Stands in
    * for the fastText-class quality classifier every production curation
    * stack runs (the real model is just this shape with learned weights
    * over more features — swap the constants, the plan is identical:
    * broadcast weights, map-side dot product, zero shuffles).
    *
    * Scores are rounded to 4 places BEFORE thresholding so published
    * scores exactly reproduce the keep/drop decision. */
  val qualityWeights: Map[String, Double] = Map(
    "bias" -> -1.0, "log_tokens" -> 0.55,
    "stop_ratio" -> 2.0, "punct_ratio" -> -3.0, "avg_token_len" -> -0.05)

  /** The score as a single self-contained column over a text column —
    * for pipelines that need the gate inline (one scan, no join back).
    * Features are rounded to 4 exactly as [[qualityFeatures]] does;
    * ScaleOpsSpec pins that this and [[qualityScore]] agree. */
  def qualityScoreExpr(t: Column): Column = {
    val w = qualityWeights
    val nT = tokenCount(t)
    val stop = round(stopwordCount(t) / greatest(nT, lit(1)).cast("double"), 4)
    val punct = round(punctCount(t) / greatest(length(t), lit(1)).cast("double"), 4)
    val avgLen = round((length(t) - (nT - 1)) /
      greatest(nT, lit(1)).cast("double"), 4)
    round(lit(1.0) / (lit(1.0) + exp(-(lit(w("bias"))
      + lit(w("log_tokens")) * log(lit(1.0) + nT)
      + lit(w("stop_ratio")) * stop
      + lit(w("punct_ratio")) * punct
      + lit(w("avg_token_len")) * avgLen))), 4)
  }

  def qualityScore(documents: DataFrame, threshold: Double = 0.5,
      textCol: String = "text"): DataFrame = {
    val w = qualityWeights
    qualityFeatures(documents, textCol)
      .withColumn("q_score", round(
        lit(1.0) / (lit(1.0) + exp(-(lit(w("bias"))
          + lit(w("log_tokens")) * log(lit(1.0) + col("n_tokens"))
          + lit(w("stop_ratio")) * col("stop_ratio")
          + lit(w("punct_ratio")) * col("punct_ratio")
          + lit(w("avg_token_len")) * col("avg_token_len")))), 4))
      .withColumn("keep", col("q_score") >= threshold)
      .select("doc_id", "n_tokens", "stop_ratio", "punct_ratio",
        "avg_token_len", "q_score", "keep")
  }

  /** Perplexity-proxy quality scoring with a corpus-trained bigram LM —
    * the KenLM-filter shape of a training pipeline (score every document
    * by how "expected" its text is under a reference corpus; outliers at
    * either end are boilerplate or garbage).
    *
    * Model: add-`smooth` smoothed bigram probabilities
    * p(w₂|w₁) = (c(w₁w₂) + s) / (c(w₁) + s·V), trained on `lmCorpus`
    * (defaults to the scored corpus itself). Score = mean ln p over the
    * document's bigrams, folded in POSITION order (collect_list sorted —
    * the scored bigrams scatter across partitions in the LM join, and a
    * plain avg() would make the last bits partition-dependent).
    *
    * Scale shape: bigram and context counts partial-aggregate before
    * their shuffles; scoring is one equi-join on the bigram key (both
    * sides shuffle-partitioned by it) and one per-doc fold bounded by
    * document length. V (distinct tokens) is the only driver scalar.
    * Output: (doc_id, n_bigrams, avg_lnp) for docs with ≥ 2 tokens. */
  def bigramLmScore(documents: DataFrame, smooth: Double = 1.0,
      textCol: String = "text", lmCorpus: DataFrame = null): DataFrame = {
    def tokDf(df: DataFrame) = df.select(col("doc_id"),
      toks(lower(col(textCol))).as("t")) // materialized: HOF no-CSE trap
    def bigrams(df: DataFrame) = tokDf(df).filter(size(col("t")) >= 2)
      .select(col("doc_id"), posexplode(
        zip_with(slice(col("t"), lit(1), size(col("t")) - 1),
          slice(col("t"), lit(2), size(col("t")) - 1),
          (a, b) => struct(a.as("w1"), b.as("w2")))).as(Seq("pos", "bg")))
      .select(col("doc_id"), col("pos"),
        col("bg.w1").as("w1"), col("bg.w2").as("w2"))
    val train = Option(lmCorpus).getOrElse(documents)
    val bgCounts = bigrams(train).groupBy("w1", "w2")
      .agg(count(lit(1)).as("cb"))
    val ctx = bgCounts.groupBy("w1").agg(sum("cb").as("cw"))
    val vDf = tokDf(train).select(explode(col("t")).as("w"))
      .agg(countDistinct("w").as("v"))
    val lm = bgCounts.join(ctx, "w1")
    bigrams(documents)
      .join(lm, Seq("w1", "w2"), "left")
      .crossJoin(broadcast(vDf))
      .select(col("doc_id"), col("pos"),
        log((coalesce(col("cb"), lit(0L)) + lit(smooth)) /
          (coalesce(col("cw"), lit(0L)) + lit(smooth) * col("v"))).as("lnp"))
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_bigrams"),
        round(aggregate(
          transform(array_sort(collect_list(struct(col("pos"), col("lnp")))),
            e => e.getField("lnp")),
          lit(0.0), (a, x) => a + x) / count(lit(1)), 4).as("avg_lnp"))
  }

  /** Vocabulary build + dictionary encoding — the token-id export step
    * of a training pipeline. Vocab = top `v` tokens by (freq DESC, token
    * ASC), ids 1..v in that order; out-of-vocabulary tokens encode to 0.
    *
    * Scale shape: token frequencies partial-aggregate before one shuffle;
    * the top-v cut is TakeOrderedAndProject (per-partition heaps, only
    * v rows survive each partition); ids 1..v are assigned DRIVER-side
    * on the collected ≤v-row cut. That collect adds no scale constraint
    * the operator didn't already have: the encode join BROADCASTS the
    * vocab, so O(v) memory on every node is the operator's contract
    * either way — and it removes the id-assignment window (the r13
    * `WindowExec: No Partition Defined` class) without the fixed
    * materialization cost a distributed two-phase rank pays (r14 probe:
    * the `Ids.stableIds` variant measured +0.5 s flat at sf0.1 for a
    * 500-row frame). Encoding is a broadcast left join of the exploded
    * tokens against the vocab and a per-doc fold back into position
    * order (collect_list of (pos, id) sorted — partition-order
    * independent).
    *
    * Output: (doc_id, n_toks, n_oov, ids_str) — ids space-joined as a
    * string so the row is engine-comparable. */
  /** The corpus-side top-`v` vocabulary cut — (tok, freq) under
    * (freq DESC, tok ASC), LAZY and un-ranked. Exposed as its own stage
    * so PlanSpec can pin its physical shape (TakeOrderedAndProject —
    * per-partition heaps, never a global sort): [[vocabEncode]] ranks it
    * through `Ids.stableIds`, whose materialization hides this plan
    * from the final query's `executedPlan`. */
  def vocabCut(documents: DataFrame, v: Int,
      textCol: String = "text"): DataFrame =
    documents
      .select(toks(lower(col(textCol))).as("t"))
      .select(explode(col("t")).as("tok"))
      .groupBy("tok").agg(count(lit(1)).as("freq"))
      .orderBy(col("freq").desc, col("tok").asc).limit(v)

  def vocabEncode(documents: DataFrame, v: Int = 500,
      textCol: String = "text"): DataFrame = {
    val spark = documents.sparkSession
    import spark.implicits._
    val docs = documents.select(col("doc_id"),
      toks(lower(col(textCol))).as("t")) // materialized: HOF no-CSE trap
    val tok = docs.select(col("doc_id"), posexplode(col("t")).as(Seq("pos", "tok")))
    // collect() preserves the cut's (freq DESC, tok ASC) order, so the
    // 1-based index IS the rank — bounded control plane (≤ v rows, the
    // same rows the encode join broadcasts anyway)
    val vocab = vocabCut(documents, v, textCol).collect()
      .iterator.zipWithIndex
      .map { case (r, i) => (r.getString(0), i + 1) }
      .toSeq.toDF("tok", "tok_id")
    tok.join(broadcast(vocab), Seq("tok"), "left")
      .select(col("doc_id"), col("pos"),
        coalesce(col("tok_id"), lit(0)).as("id"))
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_toks"),
        count_if(col("id") === 0).as("n_oov"),
        array_join(transform(
          array_sort(collect_list(struct(col("pos"), col("id")))),
          e => e.getField("id").cast("string")), " ").as("ids_str"))
  }

  /** Zipf coverage curve — the tokenizer-sizing question: what fraction
    * of the corpus' TOKENS do the top-N most frequent TYPES cover, for
    * each candidate vocab size N.
    *
    * Never ranks the vocabulary (a global row_number over billions of
    * types is a single-partition sort): type counts collapse to
    * FREQUENCY TIERS — (freq, n_types, tokens) — and top-N coverage is
    * exact arithmetic over tiers: full tiers above the cutoff plus
    * `(N − types_above) · freq` from the boundary tier. Every type in
    * the boundary tier has the same freq, so coverage needs NO
    * tie-break — it is well-defined and engine-identical by
    * construction.
    *
    * The tier frame is NOT bounded by construction: distinct frequency
    * values grow ~√(total tokens) (at 10¹³ tokens, millions of tiers),
    * so the cumulative type count uses the two-phase distributed prefix
    * sum ([[graft.ops.Ids.stableIds]] / `Drift.ks` pattern) — range
    * exchange on `freq` DESC, per-partition partials, driver cumsum of
    * ONE long per partition, map-only offset pass — never a
    * partition-less window. freq values are distinct by construction
    * (tiers come from a groupBy), so the range order is total and the
    * cumsum is partitioning-invariant (pinned in ScaleOpsSpec). The
    * tier frame stays distributed; only the few-row cutoff list is
    * broadcast. Like `Ids.stableIds`, the offsets run Spark jobs at
    * CALL time (the returned frame is lazy downstream of the pinned
    * tier materialization).
    *
    * Output per cutoff: (vocab_size, n_types, covered_tokens, coverage),
    * n_types = min(cutoff, |vocab|), coverage rounded 6. */
  def vocabCoverage(documents: DataFrame, cutoffs: Seq[Long],
      textCol: String = "text"): DataFrame = {
    val spark = documents.sparkSession
    import spark.implicits._
    val vcounts = documents
      .select(toks(lower(col(textCol))).as("t"))
      .select(explode(col("t")).as("tok"))
      .groupBy("tok").agg(count(lit(1)).as("freq"))
    val tiers = vcounts.groupBy("freq")
      .agg(count(lit(1)).as("n_types"))
      .withColumn("tokens", col("freq") * col("n_types"))
    // two-phase cumulative sum of n_types in freq-DESC order: the
    // counting and offset passes must read ONE materialization of the
    // range-sorted tiers (same contract as Ids.stableIds)
    val sorted = graft.ops.Materialize(
      tiers.repartitionByRange(col("freq").desc)
        .sortWithinPartitions(col("freq").desc))
    val nIdx = sorted.schema.fieldIndex("n_types")
    val partials = sorted.rdd
      .mapPartitionsWithIndex { (pid, it) =>
        var s = 0L; it.foreach(r => s += r.getLong(nIdx))
        Iterator.single(pid -> s)
      }.collect().sortBy(_._1).map(_._2)
    val offsets = partials.scanLeft(0L)(_ + _)
    val cumSchema = org.apache.spark.sql.types.StructType(
      sorted.schema.fields ++ Seq(
        org.apache.spark.sql.types.StructField("cum_types",
          org.apache.spark.sql.types.LongType, nullable = false),
        org.apache.spark.sql.types.StructField("prev_types",
          org.apache.spark.sql.types.LongType, nullable = false)))
    val cumRdd = sorted.rdd.mapPartitionsWithIndex { (pid, it) =>
      var c = offsets(pid)
      it.map { r =>
        val n = r.getLong(nIdx); val prev = c; c += n
        org.apache.spark.sql.Row.fromSeq(r.toSeq :+ c :+ prev)
      }
    }
    val cum = spark.createDataFrame(cumRdd, cumSchema)
    val total = cum.agg(sum("tokens").as("__total"))
    // tier side stays distributed; only the few-row cutoff list rides a
    // broadcast (the old shape broadcast the TIER frame — wrong side at
    // scale). Each cutoff N matches ≤ N tiers, so the join output is
    // bounded by Σ cutoffs rows.
    cum
      .join(broadcast(cutoffs.toDF("vocab_size")),
        col("prev_types") < col("vocab_size"))
      .groupBy("vocab_size")
      .agg(
        sum(least(col("n_types"), col("vocab_size") - col("prev_types")))
          .as("n_types"),
        sum(least(col("n_types"), col("vocab_size") - col("prev_types"))
          * col("freq")).as("covered_tokens"))
      .crossJoin(broadcast(total))
      .select(col("vocab_size"), col("n_types"), col("covered_tokens"),
        round(col("covered_tokens") / col("__total").cast("double"), 6)
          .as("coverage"))
  }

  /** Flesch reading-ease with a deterministic syllable proxy (count of
    * [aeiouy]+ vowel groups per word, floored at 1 — the standard
    * dictionary-free approximation) and sentence count = [.!?]+ runs
    * floored at 1. Map-only; emits the raw counts so a caller can
    * re-derive grade-level variants without another scan. */
  def readability(documents: DataFrame, textCol: String = "text"): DataFrame = {
    // r18: the three counts are ONE native byte walk (TextStatsExpr) —
    // the declarative form paid an interpreted per-WORD regexp_count
    // lambda for syllables plus a full-text regex for sentences
    // (~150 µs/doc at sf0.1). TextStatsSpec keeps that form and pins
    // equivalence.
    val counted = documents
      .withColumn("__st", graft.functions.TextStatsExpr.textStats(col(textCol)))
      .select(col("doc_id"), col("__st.n_words").as("n_words"),
        col("__st.n_sentences").as("n_sentences"),
        col("__st.n_syllables").as("n_syllables"))
    // Flesch in EXACT integer space, divided once:
    //   206.835 − 1.015·w/s − 84.6·syl/w  =  N / (1000·s·w)
    //   N = 206835·s·w − 1015·w² − 84600·syl·s   (all BIGINT-exact)
    // round(·, 4) = round(N·10/D)/10⁴ with D = s·w. While every integer
    // term fits BIGINT and N·10 fits a double's 53-bit mantissa, BOTH
    // engines divide the SAME two exact values and round the identical
    // IEEE result at an INTEGER boundary — where k and k+0.5 are exactly
    // representable and half-up/away-from-zero agree. The previous
    // per-term double form diverged from DuckDB (decimal literals there,
    // binary doubles here) on a 4-dp boundary row at sf1.
    //
    // The exactness precondition is ENFORCED, not assumed (r9 ADVICE):
    // w ≤ 6·10⁵, s·w ≤ 4·10⁹, syl·s ≤ 5·10⁹ keep every term ≤ ~8.3·10¹⁴
    // (so N·10 ≤ 2⁵³ and nothing near BIGINT range — Spark would wrap
    // silently where DuckDB raises). A pathological doc beyond the bound
    // falls back to the double form built from the IDENTICAL expression
    // tree in both engines (double literals only — decimal literals were
    // the original divergence), so the engines still agree there up to
    // the usual 4-dp-boundary caveat the exact path exists to remove.
    val exactOk = col("n_words") <= lit(600000L) &&
      col("n_sentences") * col("n_words") <= lit(4000000000L) &&
      col("n_syllables") * col("n_sentences") <= lit(5000000000L)
    val exact =
      round(((lit(206835L) * col("n_sentences") * col("n_words")
          - lit(1015L) * col("n_words") * col("n_words")
          - lit(84600L) * col("n_syllables") * col("n_sentences"))
          * lit(10L)).cast("double")
        / (col("n_sentences") * col("n_words")).cast("double")) / lit(10000.0)
    val fallback =
      round((lit(206835.0) / lit(1000.0)
          - lit(1015.0) / lit(1000.0) * col("n_words").cast("double")
            / col("n_sentences").cast("double")
          - lit(846.0) / lit(10.0) * col("n_syllables").cast("double")
            / col("n_words").cast("double")) * lit(10000.0)) / lit(10000.0)
    counted.select(col("doc_id"), col("n_words"), col("n_sentences"),
      col("n_syllables"),
      when(exactOk, exact).otherwise(fallback).as("flesch"))
  }

  /** The Gopher required-stopword set (Rae et al. 2021 §A1.1.2): a doc
    * must contain ≥ 2 of these to look like running English prose. */
  val gopherStopwords: Seq[String] =
    Seq("the", "be", "to", "of", "and", "that", "have", "with")

  /** Gopher-style heuristic rule battery (Rae et al. 2021 §A1.1.2) —
    * the standard pre-model quality screen of an LLM data pipeline:
    * word-count bounds, mean-word-length band, symbol-to-word ratio,
    * bullet-line and ellipsis-line ratios, alphabetic-word ratio, and a
    * required-stopword floor. Emits every measured feature, one boolean
    * per rule, and the conjunction (`pass`), so downstream curation can
    * both filter and attribute loss per rule.
    *
    * Pure map-side expression chain — no shuffle, no UDF; the token
    * array is materialized in its own projection first (HOF bodies don't
    * CSE with outer expressions). All ratios rounded to 4 dp for
    * engine-stable comparison. */
  def gopherRules(documents: DataFrame, minWords: Int = 50,
      maxWords: Int = 100000, minMeanLen: Double = 3, maxMeanLen: Double = 10,
      maxSymbolRatio: Double = 0.1, maxBulletRatio: Double = 0.9,
      maxEllipsisRatio: Double = 0.3, minAlphaRatio: Double = 0.8,
      minStopwords: Int = 2, textCol: String = "text"): DataFrame = {
    // r18: every raw count is ONE native GopherStatsExpr walk — the
    // declarative form paid ~10 passes, several through interpreted
    // per-token/per-line rlike lambdas (~120 µs/doc at sf0.1).
    // GopherStatsSpec keeps that form and pins equivalence.
    val st = documents.withColumn("__g",
      graft.functions.GopherStatsExpr.gopherStats(col(textCol), gopherStopwords))
    val n = col("__g.n_words")
    val nd = greatest(n, lit(1)).cast("double")
    val nLines = greatest(col("__g.n_lines"), lit(1)).cast("double")
    val measured = st.select(
      col("doc_id"),
      n.as("n_words"),
      round(col("__g.sum_word_chars") / nd, 4).as("mean_word_len"),
      round(col("__g.n_symbols") / nd, 4).as("symbol_ratio"),
      round(col("__g.n_bullet_lines") / nLines, 4).as("bullet_ratio"),
      round(col("__g.n_ellipsis_lines") / nLines, 4).as("ellipsis_ratio"),
      round(col("__g.n_alpha_words") / nd, 4).as("alpha_ratio"),
      col("__g.n_stopwords").as("n_stopwords"))
    gopherVerdicts(measured, minWords, maxWords, minMeanLen, maxMeanLen,
      maxSymbolRatio, maxBulletRatio, maxEllipsisRatio, minAlphaRatio,
      minStopwords)
  }

  /** Shared rule-verdict columns over the measured features. */
  private[graft] def gopherVerdicts(measured: DataFrame, minWords: Int,
      maxWords: Int, minMeanLen: Double, maxMeanLen: Double,
      maxSymbolRatio: Double, maxBulletRatio: Double,
      maxEllipsisRatio: Double, minAlphaRatio: Double,
      minStopwords: Int): DataFrame = {
    val rules = Seq(
      "r_word_count" -> (col("n_words") >= minWords && col("n_words") <= maxWords),
      "r_mean_word_len" -> (col("mean_word_len") >= minMeanLen &&
        col("mean_word_len") <= maxMeanLen),
      "r_symbol_ratio" -> (col("symbol_ratio") <= maxSymbolRatio),
      "r_bullet_ratio" -> (col("bullet_ratio") <= maxBulletRatio),
      "r_ellipsis_ratio" -> (col("ellipsis_ratio") <= maxEllipsisRatio),
      "r_alpha_ratio" -> (col("alpha_ratio") >= minAlphaRatio),
      "r_stopwords" -> (col("n_stopwords") >= minStopwords))
    rules.foldLeft(measured) { case (df, (name, pred)) =>
      df.withColumn(name, pred)
    }.withColumn("pass", rules.map(_._2).reduce(_ && _))
  }

  /** Per-rule failure attribution over one corpus scan: flags computed
    * once, summed, then a single-row `stack` unpivot (the
    * q38/curation-funnel shape — never a union of per-rule aggregates,
    * which would rescan the corpus per rule). */
  def gopherRuleSummary(rules: DataFrame): DataFrame = {
    val ruleCols = rules.columns.filter(_.startsWith("r_")).toSeq
    val sums = rules.agg(count(lit(1)).as("__n"),
      ruleCols.map(c =>
        sum(when(col(c), 0L).otherwise(1L)).as(s"__f_$c")): _*)
    val stackArgs = ruleCols
      .map(c => s"'$c', __f_$c").mkString(", ")
    sums.select(col("__n"),
        expr(s"stack(${ruleCols.size}, $stackArgs) AS (rule, n_fail)"))
      .select(col("rule"), col("n_fail"),
        round(col("n_fail") / col("__n").cast("double"), 4).as("fail_ratio"))
  }
}
