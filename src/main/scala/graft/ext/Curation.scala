package graft.ext

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Dataset-curation operators for training-data pipelines: deterministic
  * split assignment, PII redaction, intra-document repetition signals
  * (the Gopher/RefinedWeb-style quality heuristics), TF-IDF term
  * ranking, and benchmark-contamination screening. The reference app has
  * none of these (SURVEY.md §2.4); they extend the engine toward the
  * 100 TB curation workload the same way Dedup/Similarity do.
  *
  * Everything is built-in functions only (codegen'd, zero UDFs) and
  * engine-neutral arithmetic (integer hashes, exact divisions, trunc4)
  * so every operator carries a DuckDB hash oracle.
  */
object Curation {

  /** Deterministic train/valid/test split: bucket = Knuth multiplicative
    * hash of the row key, split by percentile thresholds. Same
    * contract as [[graft.ops.Cleaning.stratifiedSample]] (reproducible
    * across runs/cluster layouts/appends, non-negative keys, pure
    * map-side filter — no shuffle, no RNG state). A row's assignment
    * NEVER changes as the corpus grows, which is what keeps eval sets
    * stable across dataset versions.
    *
    * The bucket comes from the HIGH bits of the 32-bit product,
    * `bucket = (((k mod 2^31) * 2654435761) mod 2^32) * 100 div 2^32`:
    * taking the product mod 100 directly would make the bucket a fixed
    * permutation of the key's last two decimal digits (since
    * `(k*c) mod 100` depends only on `k mod 100`) — keys that are all
    * multiples of 100 would land in ONE bucket. The low bits of a
    * multiplicative hash carry no mixing; the high bits do (Knuth,
    * TAOCP vol 3 §6.4). All ops are exact 64-bit integer arithmetic,
    * identical in Spark and DuckDB.
    */
  def splitAssign(
      df: DataFrame,
      keyCol: String,
      trainPct: Int = 90,
      validPct: Int = 5): DataFrame = {
    require(trainPct > 0 && validPct >= 0 && trainPct + validPct < 100,
      s"invalid split percentages train=$trainPct valid=$validPct")
    val prod = pmod(
      pmod(col(keyCol).cast("long"), lit(2147483648L)) * lit(2654435761L),
      lit(4294967296L))
    // (prod*100) < 2^39 and non-negative, so `>> 32` IS `div 2^32`,
    // exactly, in 64-bit integers — in both engines
    val bucket = shiftright(prod * lit(100L), 32)
    df.withColumn("bucket", bucket)
      .withColumn("split",
        when(col("bucket") < trainPct, "train")
          .when(col("bucket") < trainPct + validPct, "valid")
          .otherwise("test"))
  }

  // Patterns are RE2-compatible (no lookaround/backrefs), so Spark's
  // java.util.regex and DuckDB's RE2 match identically on them. Public:
  // callers compose them for match-counting alongside redaction.
  val emailRe = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"
  val phoneRe = "\\+?[0-9][0-9()\\- ]{6,}[0-9]"
  val ipv4Re = "\\b[0-9]{1,3}\\.[0-9]{1,3}\\.[0-9]{1,3}\\.[0-9]{1,3}\\b"

  /** PII redaction: emails, phone-shaped digit runs, and IPv4 literals
    * become typed placeholder tokens. Order matters — emails first (an
    * address can contain digits), IPs before phones would also work but
    * phones must not eat IP dots, hence IP second. Pure per-row
    * regexp_replace chain: fuses into the scan, no shuffle.
    */
  def redactPiiCol(c: Column): Column =
    regexp_replace(
      regexp_replace(
        regexp_replace(c, emailRe, "<EMAIL>"),
        ipv4Re, "<IP>"),
      phoneRe, "<PHONE>")

  def redactPii(df: DataFrame, textCol: String): DataFrame =
    df.withColumn(textCol, redactPiiCol(col(textCol)))

  /** Intra-document repetition: fraction of duplicate words and duplicate
    * word-bigrams — the strongest cheap signal for boilerplate/spam docs
    * (high repetition => low quality). Runs through the codegen'd
    * [[graft.ext.expr.RepCountsExpr]] (`graft_rep_counts`): one pass per
    * row, no token/bigram array materialization, fuses into the scan —
    * the built-in formulation ([[repetitionStatsExpanded]], kept as the
    * equivalence witness) measured ~4x slower at sf0.1. No shuffle
    * either way.
    *
    * Ratios are trunc4'd double divisions of exact integers — the same
    * cross-engine determinism policy as [[TextOps.qualityScore]].
    */
  def repetitionStats(docs: DataFrame): DataFrame = {
    import Num.trunc4
    graft.ext.expr.RepCountsExpr.ensureRegistered(docs.sparkSession)
    val rc = call_function(graft.ext.expr.RepCountsExpr.name, col("text"))
    graft.Tables.spread(docs).select(col("doc_id"), rc.as("rc"))
      .select(
        col("doc_id"),
        element_at(col("rc"), 1).as("n_tokens"),
        Num.trunc4(lit(1.0) -
          element_at(col("rc"), 2).cast("double") /
            element_at(col("rc"), 1).cast("double")).as("word_rep"),
        when(element_at(col("rc"), 1) < 2L, lit(0.0))
          .otherwise(trunc4(lit(1.0) -
            element_at(col("rc"), 3).cast("double") /
              (element_at(col("rc"), 1) - 1L).cast("double"))).as("bigram_rep"))
      .orderBy(col("doc_id"))
  }

  /** Built-in-only formulation of [[repetitionStats]] (token + bigram
    * arrays, array_distinct) — registration-free fallback and the
    * equivalence witness for the codegen'd kernel (ExtSpec pins them
    * equal).
    */
  def repetitionStatsExpanded(docs: DataFrame): DataFrame = {
    import Num.trunc4
    val t = split(col("text"), " ")
    val n = size(t)
    val wordRep = lit(1.0) - size(array_distinct(t)).cast("double") / n.cast("double")
    val bg = transform(sequence(lit(1), n - 1),
      i => concat_ws(" ", element_at(t, i), element_at(t, i + 1)))
    val bgRep = lit(1.0) - size(array_distinct(bg)).cast("double") / (n - 1).cast("double")
    docs.select(
      col("doc_id"),
      n.cast("bigint").as("n_tokens"),
      trunc4(wordRep).as("word_rep"),
      // single-token docs have no bigrams; guarded (sequence(1,0) would
      // count DOWN in Spark, not return empty)
      when(n < 2, lit(0.0)).otherwise(trunc4(bgRep)).as("bigram_rep"))
      .orderBy(col("doc_id"))
  }

  /** TF-IDF-style term ranking: top-k terms per document scored by
    * tf/df (term frequency over corpus document frequency). The score
    * deliberately avoids ln(): tf/df is ONE exactly-rounded IEEE
    * division of two integers, so both engines compute bit-identical
    * scores, where libm log implementations may differ in the last ulp
    * (rank-preserving for fixed tf since 1/df is monotone in df).
    *
    * Shape: explode -> two partial-first aggregates -> shuffled join on
    * term (document frequencies are data-dependent — no forced
    * broadcast; AQE broadcasts when small) -> per-doc window top-k.
    */
  def tfIdfTop(docs: DataFrame, k: Int = 3): DataFrame = {
    val tf = graft.Tables.spread(docs)
      .select(col("doc_id"), explode(TextOps.tokens(col("text"))).as("term"))
      .groupBy(col("doc_id"), col("term"))
      .agg(count(lit(1)).as("tf"))
    val dfreq = tf.groupBy(col("term")).agg(count(lit(1)).as("df"))
    val score = col("tf").cast("double") / col("df").cast("double")
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("doc_id")).orderBy(score.desc, col("term"))
    tf.join(dfreq, "term")
      .withColumn("rnk", row_number().over(w))
      .filter(col("rnk") <= k)
      .select(col("doc_id"), col("term"), col("tf"), col("df"),
        Num.trunc4(score).as("score"))
      .orderBy(col("doc_id"), col("score").desc, col("term"))
  }

  /** End-to-end curation GATE: the keep/drop decision a training-data
    * pipeline actually ships — language-ID must confirm the document's
    * tag, composite quality must clear `minQuality`, word repetition
    * must stay under `maxWordRep`. Signals compose relationally on
    * doc_id: each is a per-row projection over the same scan, the
    * joins are co-partitioned after the first shuffle, and every
    * signal stays independently testable/oracle-checked (at extreme
    * scale you would fuse the projections into one pass; the join
    * formulation is what keeps the components reusable).
    */
  def qualityGate(
      docs: DataFrame,
      minQuality: Double = 0.3,
      maxWordRep: Double = 0.6): DataFrame = {
    val lang = TextOps.langId(docs).select(col("doc_id"), col("lang"), col("lang_pred"))
    val qual = TextOps.qualityScore(docs).select(col("doc_id"), col("quality"))
    val rep = repetitionStats(docs).select(col("doc_id"), col("word_rep"))
    lang.join(qual, "doc_id").join(rep, "doc_id")
      .withColumn("keep",
        (col("lang_pred") === col("lang") &&
          col("quality") >= minQuality && col("word_rep") <= maxWordRep).cast("int"))
      .orderBy(col("doc_id"))
  }

  /** Deterministic pseudonymization: replace an identifier column with
    * sha256(pepper | value) — the standard reversibility-free user-key
    * anonymization for training corpora (same input always maps to the
    * same pseudonym, so per-user aggregation/joins still work after
    * anonymization; without the pepper the hash is a trivially
    * brute-forceable dictionary for small key spaces). Pure map-side
    * projection — codegen'd sha2, no shuffle, no driver state.
    *
    * NULL keys stay NULL: `concat` propagates null (matching SQL `||`),
    * where `concat_ws` would SKIP the null and hash the pepper alone —
    * silently merging every null-key row into one phantom identity.
    */
  def pseudonymize(df: DataFrame, keyCol: String, pepper: String): DataFrame =
    df.withColumn(keyCol,
      sha2(concat(lit(pepper + "|"), col(keyCol).cast("string")), 256))

  /** Benchmark-contamination screen: for every corpus document, the
    * number of distinct word-n-grams (default n = 8, the usual
    * decontamination shingle size; the declared query uses n = 5 to
    * match the fixture's planted spans) it shares with an
    * eval/benchmark set — the standard n-gram-overlap decontamination
    * check run before training. Returns only contaminated docs
    * (n_shared > 0).
    *
    * Shingling runs through [[Dedup.shingleHashes]] — the same
    * mapPartitions kernel the Jaccard/MinHash pipelines use: per-doc
    * DISTINCT 8-byte FNV hashes straight off the tokens, so the
    * explode-equivalent, the shuffle, and the join all carry longs,
    * never n-word strings (a higher-order `transform` building shingle
    * strings per row measured ~10x slower — HOFs evaluate interpreted,
    * outside codegen). Counts equal the string-join formulation unless
    * two DIFFERENT shingles collide in the same 64-bit bucket across
    * the corpus x eval sets — odds ~ |corpus| x |eval| / 2^64,
    * negligible even at 100 TB (and the oracle gate, which joins
    * strings, would catch it). The eval side is DISTINCT'd before the
    * join and is typically tiny (a benchmark suite), so AQE turns the
    * join broadcast at runtime; it is not forced, since eval-set size
    * is caller data.
    */
  def contaminationScreen(
      corpus: DataFrame,
      evalSet: DataFrame,
      n: Int = 8): DataFrame = {
    val ev = Dedup.shingleHashes(evalSet, n).select(col("s")).distinct()
    Dedup.shingleHashes(corpus, n)
      .join(ev, "s")
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_shared"))
      .orderBy(col("doc_id"))
  }

  /** Sequence packing: assign documents to fixed token-budget shards —
    * the "concatenate then chop at document granularity" packing every
    * LLM pretraining pipeline runs to turn a document corpus into
    * ~context-length training sequences. A document goes to the pack
    * its cumulative start offset falls in (packs may overflow `budget`
    * by at most one document — the standard approximation; exact
    * first-fit bin packing is inherently sequential).
    *
    * Deterministic and layout-independent: packing order is
    * (`groupCol`, shard, `keyCol`), never partition order. The window
    * partitions on (`groupCol`, shard = key div `shardSize`), so no
    * single reducer ever sees more than one shard of one group —
    * partition the 100 TB case by choosing `shardSize` so a shard's
    * rows fit one task, and parallelism scales with the corpus, not
    * with the number of sources. A shard boundary just starts a new
    * pack (pack ids are per-(group, shard)), which is exactly what
    * makes shards independently computable.
    *
    * The pack id is exact cross-engine arithmetic: `cum - cum mod b`
    * is a representable multiple of `b` (< 2^53), and correctly-rounded
    * IEEE division of `k*b` by `b` yields the integer `k` exactly —
    * both engines agree bit-for-bit, no float-boundary risk.
    */
  def seqPack(
      docs: DataFrame,
      budget: Long = 2048L,
      shardSize: Long = 1L << 40,
      groupCol: String = "source",
      keyCol: String = "doc_id",
      textCol: String = "text"): DataFrame = {
    require(budget > 0 && shardSize > 0, s"budget=$budget shardSize=$shardSize must be positive")
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col(groupCol), col("shard")).orderBy(col(keyCol))
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, -1)
    val cum = coalesce(sum(col("n_tokens")).over(w), lit(0L))
    docs
      .withColumn("n_tokens", size(split(col(textCol), " ")).cast("long"))
      .withColumn("shard",
        ((col(keyCol).cast("long") - pmod(col(keyCol).cast("long"), lit(shardSize))) /
          lit(shardSize)).cast("long"))
      .withColumn("pack",
        ((cum - pmod(cum, lit(budget))) / lit(budget)).cast("long"))
      .groupBy(col(groupCol), col("shard"), col("pack"))
      .agg(
        count(lit(1)).as("n_docs"),
        sum(col("n_tokens")).as("n_tokens"),
        min(col(keyCol)).as("first_doc"),
        max(col(keyCol)).as("last_doc"))
      .orderBy(col(groupCol), col("shard"), col("pack"))
  }

  /** Per-group document cap: keep at most `cap` rows per `groupCol`,
    * selected by Knuth multiplicative hash of the row key — the
    * per-domain/per-source quota a web-scale corpus applies so no
    * single domain dominates the training mix. Hash selection (same
    * contract as [[splitAssign]]) makes the kept set reproducible and
    * append-stable: a document already kept can only be displaced by
    * new lower-hash documents of the SAME group, never by re-layout.
    *
    * Scale shape: the rank filter is declarative (`row_number <= cap`),
    * which Spark's InferWindowGroupLimit rewrites into a
    * WindowGroupLimit — every map task pre-prunes to its local top-cap
    * BEFORE the shuffle, so the exchange carries O(partitions x cap)
    * rows per group, not the whole group (plan-asserted in ExtSpec).
    * That is the two-phase distributed top-k; a skewed group never
    * materializes on one reducer.
    */
  def capPerGroup(
      docs: DataFrame,
      groupCol: String,
      keyCol: String,
      cap: Int): DataFrame = {
    require(cap > 0, s"cap=$cap must be positive")
    val h = pmod(
      pmod(col(keyCol).cast("long"), lit(2147483648L)) * lit(2654435761L),
      lit(4294967296L))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col(groupCol)).orderBy(col("h_sel"), col(keyCol))
    docs.withColumn("h_sel", h)
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") <= cap)
      .drop("h_sel")
  }

  /** Fixed-size token chunking with overlap (`stride` < `chunkSize`
    * overlaps adjacent chunks) — the passage/window splitter for RAG
    * indexing and long-document pretraining. Pure per-row computation:
    * split once, explode the chunk-start sequence, slice per start —
    * no shuffle, fuses into the scan; output carries the md5 of each
    * chunk (not the text) so downstream exchange stays fixed-width.
    * Every token position lands in >= 1 chunk (starts step by `stride`
    * from 0 while < n), and slice() clamps the final partial chunk.
    */
  def tokenChunks(
      docs: DataFrame,
      chunkSize: Int = 50,
      stride: Int = 40,
      keyCol: String = "doc_id",
      textCol: String = "text"): DataFrame = {
    require(chunkSize > 0 && stride > 0 && stride <= chunkSize,
      s"need 0 < stride <= chunkSize, got chunkSize=$chunkSize stride=$stride")
    val toks = split(col(textCol), " ")
    docs
      .select(col(keyCol), toks.as("t"), size(toks).as("n"))
      .select(col(keyCol), col("t"), col("n"),
        posexplode(sequence(lit(0), col("n") - 1, lit(stride))))
      .select(
        col(keyCol),
        col("pos").cast("long").as("chunk_idx"),
        least(lit(chunkSize), col("n") - col("col")).cast("long").as("n_chunk_tokens"),
        md5(array_join(slice(col("t"), col("col") + 1, lit(chunkSize)), " ")).as("chunk_md5"))
      .orderBy(col(keyCol), col("chunk_idx"))
  }

  /** Deterministic WEIGHTED sampling: keep a row iff
    * `hash(key) / 2^32 < weightNum / weightDen` — per-row keep
    * probability proportional to a data-derived weight (quality score,
    * length, source priority), with the same reproducible/append-stable
    * hash contract as [[splitAssign]]. The comparison is cross-
    * multiplied to `hash * weightDen < weightNum * 2^32`, so with
    * integer weights the entire decision is exact 64-bit integer
    * arithmetic — no float threshold, no engine-boundary risk
    * (weightNum * 2^32 must stay under 2^63: weights up to ~2^30 are
    * safe). Pure map-side filter, fuses into the scan.
    */
  def weightedSample(
      df: DataFrame,
      keyCol: String,
      weightNum: Column,
      weightDen: Long): DataFrame = {
    require(weightDen > 0, s"weightDen=$weightDen must be positive")
    val h = pmod(
      pmod(col(keyCol).cast("long"), lit(2147483648L)) * lit(2654435761L),
      lit(4294967296L))
    df.filter(h * lit(weightDen) < weightNum.cast("long") * lit(4294967296L))
  }

  /** Vocabulary-growth (Heaps' law) curve: distinct terms seen after
    * each block of `blockSize` documents in doc_id order — the
    * diminishing-returns signal for corpus expansion ("how much new
    * vocabulary does the next crawl slice buy"). Cumulative distinct
    * needs no stateful scan: a term's FIRST occurrence block (min
    * doc_id per term — partial-first aggregate) fully determines the
    * curve, and the cumulative sum runs over the tiny per-block counts.
    */
  def vocabGrowth(
      docs: DataFrame,
      blockSize: Long = 100L,
      keyCol: String = "doc_id",
      textCol: String = "text"): DataFrame = {
    require(blockSize > 0, s"blockSize=$blockSize must be positive")
    val firstBlock = graft.Tables.spread(docs)
      .select(col(keyCol), explode(TextOps.tokens(col(textCol))).as("term"))
      .groupBy(col("term")).agg(min(col(keyCol)).as("first_doc"))
      .select(((col("first_doc") - pmod(col("first_doc"), lit(blockSize))) /
        lit(blockSize)).cast("long").as("block"))
      .groupBy(col("block")).agg(count(lit(1)).as("new_terms"))
    val w = org.apache.spark.sql.expressions.Window
      .orderBy(col("block"))
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, 0)
    firstBlock
      .select(col("block"), col("new_terms"),
        sum(col("new_terms")).over(w).as("vocab_size"))
      .orderBy(col("block"))
  }

  /** Corpus-derived stopword discovery: terms whose DOCUMENT frequency
    * exceeds `minDocShare` of the corpus — the data-driven alternative
    * to a hand-curated stopword list, and the input you'd feed the
    * df-cap in [[Dedup.pairJaccard]]. One explode into a per-(doc,
    * term) DISTINCT (map-side partial), one partial-first count per
    * term, a broadcast 1-row total; the share is an exact integer
    * division trunc4'd only at output.
    */
  def stopwordCandidates(
      docs: DataFrame,
      minDocShare: Double = 0.4,
      textCol: String = "text",
      keyCol: String = "doc_id"): DataFrame = {
    import Num.trunc4
    val docTerms = graft.Tables.spread(docs)
      .select(col(keyCol), explode(TextOps.tokens(col(textCol))).as("term"))
      .distinct()
    val nDocs = docs.agg(count(lit(1)).as("n_docs"))
    docTerms.groupBy(col("term")).agg(count(lit(1)).as("df"))
      .crossJoin(broadcast(nDocs))
      .withColumn("doc_share", col("df").cast("double") / col("n_docs").cast("double"))
      .filter(col("doc_share") >= minDocShare)
      .select(col("term"), col("df"), trunc4(col("doc_share")).as("doc_share"))
      .orderBy(col("doc_share").desc, col("term"))
  }

  /** Per-source token-distribution drift: a chi-square-style divergence
    * of each source's term distribution against the corpus-wide
    * distribution — the monitoring signal that flags a crawl source
    * whose content shifted between snapshots. For each term present in
    * the source, expected count = global_count * source_tokens /
    * total_tokens; the statistic sums (obs - exp)^2 / exp over the
    * source's PRESENT terms (absent-term mass is excluded by contract —
    * it keeps the op one join away from the tf counts, and the ranking
    * between sources is what monitoring consumes).
    *
    * Shape: one explode into a partial-first (source, term) count —
    * the shuffle carries (source, term, count), never text — then two
    * tiny reaggregations (per-term global, per-source totals) that
    * join back; AQE broadcasts them when small. trunc4 on the
    * statistic per the libm summation policy.
    */
  def sourceDrift(docs: DataFrame, groupCol: String = "source",
      textCol: String = "text"): DataFrame = {
    import Num.trunc4
    val tf = graft.Tables.spread(docs)
      .select(col(groupCol), explode(TextOps.tokens(col(textCol))).as("term"))
      .groupBy(col(groupCol), col("term"))
      .agg(count(lit(1)).as("c"))
    val glob = tf.groupBy(col("term")).agg(sum(col("c")).as("g"))
    val perSrc = tf.groupBy(col(groupCol)).agg(sum(col("c")).as("n_src"))
      .withColumn("n_total",
        sum(col("n_src")).over(org.apache.spark.sql.expressions.Window.partitionBy()))
    val expCnt = col("g").cast("double") * col("n_src").cast("double") /
      col("n_total").cast("double")
    val dev = (col("c").cast("double") - expCnt) * (col("c").cast("double") - expCnt) / expCnt
    tf.join(glob, "term").join(perSrc, groupCol)
      .groupBy(col(groupCol))
      .agg(count(lit(1)).as("n_terms"), sum(dev).as("chi2_raw"))
      .select(col(groupCol), col("n_terms"), trunc4(col("chi2_raw")).as("chi2"))
      .orderBy(col(groupCol))
  }

  /** Rebalance the corpus to a TARGET mix: per-group keep fraction
    * derived from a per-mille share of the corpus total, applied as a
    * hash threshold — the dataset-mixing step that turns "whatever the
    * crawl yielded" into the source/language proportions the training
    * run wants. A group already below its target keeps everything
    * (threshold saturates above the hash range); selection within a
    * group is the same append-stable Knuth-hash contract as
    * [[splitAssign]].
    *
    * The per-group threshold is `floor(floor(n_total*pm/1000) * 2^32 /
    * n_g)` — every step exact 64-bit integer arithmetic, identical in
    * both engines BY SPECIFICATION (the floor is part of the op's
    * contract, so there is no rational-comparison boundary to disagree
    * on). Holds while target rows < 2^31 per group; beyond that, split
    * the group or widen to decimal.
    *
    * Shape: one partial-first count per group (tiny result), threshold
    * arithmetic on the grouped rows, broadcast join back, map-side
    * filter. The corpus is scanned twice but shuffled never.
    */
  def rebalanceSample(
      df: DataFrame,
      groupCol: String,
      keyCol: String,
      perMille: Map[String, Int],
      defaultPerMille: Int): DataFrame = {
    require((defaultPerMille +: perMille.values.toSeq).forall(p => p >= 0 && p <= 1000),
      "per-mille shares must be in [0, 1000]")
    val pm = perMille.foldLeft(lit(defaultPerMille.toLong)) {
      case (acc, (k, v)) => when(col(groupCol) === k, lit(v.toLong)).otherwise(acc)
    }
    val thrDf = df.groupBy(col(groupCol)).agg(count(lit(1)).as("n_g"))
      .withColumn("n_total",
        sum(col("n_g")).over(org.apache.spark.sql.expressions.Window.partitionBy()))
      .withColumn("pm", pm)
      .withColumn("target_n", expr("(n_total * pm) div 1000"))
      .select(col(groupCol), expr("(target_n * 4294967296) div n_g").as("thr"))
    val h = pmod(
      pmod(col(keyCol).cast("long"), lit(2147483648L)) * lit(2654435761L),
      lit(4294967296L))
    df.join(broadcast(thrDf), groupCol).filter(h < col("thr"))
  }

  /** Per-document token (Shannon) entropy in bits, plus distinct-term
    * count — the classic diversity signal separating natural text from
    * generated/boilerplate spam (low entropy = few distinct tokens
    * dominate). H = log2(n) - (sum c*log2(c)) / n over term counts c.
    *
    * Runs through the codegen'd
    * [[graft.ext.expr.TokenEntropyExpr]] (`graft_token_entropy`): one
    * map-side pass per row, no token materialization, the whole query
    * is a projection that fuses into the scan (plan-asserted: no
    * Generate, no aggregate). The built-in formulation
    * ([[tokenEntropyExpanded]], kept as the equivalence witness)
    * explodes the token stream through two hash aggregates — at corpus
    * scale that shuffles every token twice. The log() calls are the
    * one place the suite leans on libm: both engines' ln are within 1
    * ulp, summed error ~1e-13 against a trunc4 comparison grid.
    */
  def tokenEntropy(docs: DataFrame, keyCol: String = "doc_id",
      textCol: String = "text"): DataFrame = {
    import Num.trunc4
    val ln2 = math.log(2.0)
    graft.ext.expr.TokenEntropyExpr.ensureRegistered(docs.sparkSession)
    val te = call_function(graft.ext.expr.TokenEntropyExpr.name, col(textCol))
    graft.Tables.spread(docs).select(col(keyCol), te.as("te"))
      .select(
        col(keyCol),
        element_at(col("te"), 1).cast("bigint").as("n_tokens"),
        element_at(col("te"), 2).cast("bigint").as("n_terms"),
        trunc4((log(element_at(col("te"), 1)) -
          element_at(col("te"), 3) / element_at(col("te"), 1)) / lit(ln2))
          .as("entropy_bits"))
      .orderBy(col(keyCol))
  }

  /** Built-in-only formulation of [[tokenEntropy]] (explode -> count
    * per (doc, term) -> per-doc agg) — registration-free fallback and
    * the equivalence witness for the codegen'd kernel (ExtSpec pins
    * them equal).
    */
  def tokenEntropyExpanded(docs: DataFrame, keyCol: String = "doc_id",
      textCol: String = "text"): DataFrame = {
    import Num.trunc4
    val ln2 = math.log(2.0)
    val tf = graft.Tables.spread(docs)
      .select(col(keyCol), explode(TextOps.tokens(col(textCol))).as("term"))
      .groupBy(col(keyCol), col("term"))
      .agg(count(lit(1)).as("c"))
    tf.groupBy(col(keyCol))
      .agg(
        sum(col("c")).as("n_tokens"),
        count(lit(1)).as("n_terms"),
        sum(col("c").cast("double") * log(col("c").cast("double"))).as("clc"))
      .select(
        col(keyCol),
        col("n_tokens"),
        col("n_terms"),
        trunc4((log(col("n_tokens").cast("double")) -
          col("clc") / col("n_tokens").cast("double")) / lit(ln2)).as("entropy_bits"))
      .orderBy(col(keyCol))
  }

  /** Exact two-sample Kolmogorov-Smirnov statistic between the train
    * and test [[splitAssign]] populations over an integral column —
    * the release gate that a random split did not skew a covariate.
    * D = max over values of |F_train(v) - F_test(v)|, computed WITHOUT
    * floats until the last step: per-value counts for both samples,
    * running-count windows over the distinct-value frame (the same
    * bounded-domain trick as [[equalFrequencyBins]] — the fact table
    * is never sorted), and the argmax taken over the exact integer
    * cross-product |cum_a*n_b - cum_b*n_a| (at extreme scale this
    * product is the decimal-widening candidate). One row out: D
    * (trunc4), the value where it peaks, and both sample sizes.
    */
  def ksSplitDrift(
      df: DataFrame,
      keyCol: String,
      valueCol: String,
      trainPct: Int = 90,
      validPct: Int = 5): DataFrame = {
    import Num.trunc4
    val counts = splitAssign(df, keyCol, trainPct, validPct)
      .filter(col("split").isin("train", "test") && col(valueCol).isNotNull)
      .groupBy(col(valueCol).cast("long").as("v"))
      .agg(sum(when(col("split") === "train", 1L).otherwise(0L)).as("ca"),
        sum(when(col("split") === "test", 1L).otherwise(0L)).as("cb"))
    val wCum = org.apache.spark.sql.expressions.Window
      .orderBy(col("v")).rowsBetween(Long.MinValue, 0)
    val wAll = org.apache.spark.sql.expressions.Window
      .partitionBy().rowsBetween(Long.MinValue, Long.MaxValue)
    counts
      .select(col("v"),
        sum(col("ca")).over(wCum).as("cuma"), sum(col("cb")).over(wCum).as("cumb"),
        sum(col("ca")).over(wAll).as("na"), sum(col("cb")).over(wAll).as("nb"))
      .select(col("v"), col("na"), col("nb"),
        abs(col("cuma") * col("nb") - col("cumb") * col("na")).as("d"))
      .orderBy(col("d").desc, col("v"))
      .limit(1)
      .select(col("na").as("n_train"), col("nb").as("n_test"),
        col("v").as("at_value"),
        trunc4(col("d").cast("double") /
          (col("na") * col("nb")).cast("double")).as("ks4"))
  }

  /** EXACT distributed equal-frequency binning over an integral column
    * (length-balanced shards, difficulty tiers, quantile features)
    * without a global sort of the fact table. Two-level shape: a
    * partial-first `groupBy(value)` shrinks the input to its distinct
    * values, then the running-total window that turns counts into
    * cumulative ranks runs over the |distinct| frame only — for bounded
    * domains (document lengths, token counts, star ratings) that is
    * thousands of rows regardless of corpus size, so the single-
    * partition window is NOT a scale hazard; the fact table itself is
    * never sorted or windowed.
    *
    * Bin rule: a value group whose first row has 0-indexed global rank
    * r lands in bin `(r * k) div N` — pure 64-bit integer arithmetic
    * (engine-neutral, no float percentile), and tied values never split
    * across bins. Bins are equal-frequency up to tie granularity.
    */
  def equalFrequencyBins(df: DataFrame, valueCol: String, k: Int = 10): DataFrame = {
    require(k > 1, s"need at least 2 bins, got $k")
    val wCum = org.apache.spark.sql.expressions.Window
      .orderBy(col("v"))
      .rowsBetween(Long.MinValue, 0)
    val wAll = org.apache.spark.sql.expressions.Window
      .partitionBy()
      .rowsBetween(Long.MinValue, Long.MaxValue)
    df.filter(col(valueCol).isNotNull)
      .groupBy(col(valueCol).cast("long").as("v"))
      .agg(count(lit(1)).as("c"))
      .withColumn("below", sum(col("c")).over(wCum) - col("c"))
      .withColumn("n", sum(col("c")).over(wAll))
      .withColumn("bin", expr(s"(below * ${k}L) div n"))
      .groupBy(col("bin"))
      .agg(count(lit(1)).as("n_values"), sum(col("c")).as("n_rows"),
        min(col("v")).as("lo"), max(col("v")).as("hi"))
      .orderBy(col("bin"))
  }

  /** Pairwise Jensen–Shannon divergence between language unigram
    * distributions, in bits — the corpus-mix diagnostic for "are these
    * two language slices actually distinct distributions" (near-0 =
    * mislabeled same-language feeds; near-1 = fully disjoint
    * vocabularies). Computed over SHARED terms plus a closed-form
    * correction for each side's unshared mass: a term absent from the
    * other side contributes exactly p·ln2 to its side's KL half, so
    * JS = ½[ Σ_shared (p·ln(2p/(p+q)) + q·ln(2q/(p+q)))
    *         + (1−Σp_shared)·ln2 + (1−Σq_shared)·ln2 ] — no outer
    * join, no null-handling in the hot path.
    *
    * Scale shape: one partial-first (lang, term) count, a vocabulary-
    * sized self-join on term (|langs| is small, so each posting list
    * is short), and a |lang-pairs|-row aggregate. Probabilities are
    * exact-integer ratios (bit-identical inputs both engines); the ln
    * calls follow the tokenEntropy libm policy, absorbed by trunc4.
    */
  def langDivergence(docs: DataFrame): DataFrame = {
    import Num.trunc4
    val ln2 = math.log(2.0)
    val tf = graft.Tables.spread(docs)
      .select(col("lang"), explode(TextOps.tokens(col("text"))).as("term"))
      .groupBy(col("lang"), col("term")).agg(count(lit(1)).as("c"))
    val n = tf.groupBy(col("lang")).agg(sum(col("c")).cast("long").as("n"))
    val p = tf.join(n, "lang")
      .select(col("lang"), col("term"),
        (col("c").cast("double") / col("n").cast("double")).as("p"))
      .localCheckpoint(false) // both sides of the pair join
    val a = p.select(col("lang").as("lang_a"), col("term"), col("p").as("pa"))
    val b = p.select(col("lang").as("lang_b"), col("term"), col("p").as("pb"))
    a.join(b, Seq("term")).filter(col("lang_a") < col("lang_b"))
      .groupBy(col("lang_a"), col("lang_b"))
      .agg(count(lit(1)).as("n_shared"),
        sum(col("pa") * log(lit(2.0) * col("pa") / (col("pa") + col("pb"))) +
          col("pb") * log(lit(2.0) * col("pb") / (col("pa") + col("pb")))).as("core"),
        sum(col("pa")).as("sa"), sum(col("pb")).as("sb"))
      .select(col("lang_a"), col("lang_b"), col("n_shared"),
        trunc4((col("core") + (lit(1.0) - col("sa")) * lit(ln2) +
          (lit(1.0) - col("sb")) * lit(ln2)) / lit(2.0) / lit(ln2)).as("js_bits4"))
      .orderBy(col("lang_a"), col("lang_b"))
  }

  /** Per-language robust length-outlier report: modified z-score
    * (0.6745·|x−median|/MAD) on n_chars, counted per language — the
    * pre-tokenization screen that catches truncated fragments and
    * concatenation blobs inside each language's own length regime
    * (a 400-char doc is normal English, an outlier in a CJK feed).
    * Same median/MAD machinery as
    * [[graft.ext.Aggregates.robustAnomalyDays]], but grouped.
    *
    * Determinism: medians interpolate exact integer-valued doubles
    * (both engines' exact-percentile halves agree bit-for-bit), the z
    * threshold compares identically-computed doubles, and med/MAD are
    * trunc4'd only on output. Scale shape: exact percentile per group
    * needs the group's values — computed on the (lang, n_chars)
    * aggregate? No: percentile runs over per-group rows; Spark's
    * `percentile` is a sort-based aggregate per group, hash-
    * partitioned by lang — each group's sort is distributed to its
    * reducer, no global sort. The doc stream itself is touched twice
    * (stats pass + flag pass), both scan-pruned to two columns.
    */
  def lengthAnomalies(docs: DataFrame, cutoff: Double = 3.5): DataFrame = {
    import Num.trunc4
    val base = graft.Tables.spread(docs)
      .filter(col("n_chars").isNotNull && col("lang").isNotNull)
      .select(col("lang"), col("n_chars").cast("double").as("x"))
    val med = base.groupBy(col("lang")).agg(expr("percentile(x, 0.5)").as("med"))
    val mad = base.join(broadcast(med), "lang")
      .select(col("lang"), abs(col("x") - col("med")).as("dv"))
      .groupBy(col("lang")).agg(expr("percentile(dv, 0.5)").as("mad"))
    val z = lit(0.6745) * abs(col("x") - col("med")) / col("mad")
    base.join(broadcast(med), "lang").join(broadcast(mad), "lang")
      .groupBy(col("lang"))
      .agg(count(lit(1)).as("n_docs"),
        sum(when(col("mad") > 0.0 && z > cutoff, 1L).otherwise(0L))
          .cast("long").as("n_outliers"),
        trunc4(max(col("med"))).as("med4"),
        trunc4(max(col("mad"))).as("mad4"))
      .orderBy(col("lang"))
  }

  /** PER-GROUP exact equal-frequency binning — [[equalFrequencyBins]]
    * with every window PARTITIONED BY the group column, so each group
    * gets its own k quantile tiers computed against its own
    * distribution (per-language difficulty tiers, per-source length
    * shards). Same integer rank rule per group: a value whose group-
    * local 0-indexed rank is r lands in bin `(r * k) div n_g`.
    *
    * Scale shape: the fact table is never sorted — the
    * `groupBy(group, value)` partial-first aggregate shrinks the
    * stream to distinct (group, value) pairs, and the running-total
    * window runs per group over that reduced frame, hash-distributed
    * across executors by the partition key (unlike the global variant,
    * which needs its one bounded-domain single partition).
    */
  def equalFrequencyBinsByGroup(
      df: DataFrame, valueCol: String, groupCol: String, k: Int = 4): DataFrame = {
    require(k > 1, s"need at least 2 bins, got $k")
    val wCum = org.apache.spark.sql.expressions.Window
      .partitionBy(col("g")).orderBy(col("v"))
      .rowsBetween(Long.MinValue, 0)
    val wAll = org.apache.spark.sql.expressions.Window
      .partitionBy(col("g"))
      .rowsBetween(Long.MinValue, Long.MaxValue)
    df.filter(col(valueCol).isNotNull && col(groupCol).isNotNull)
      .groupBy(col(groupCol).as("g"), col(valueCol).cast("long").as("v"))
      .agg(count(lit(1)).as("c"))
      .withColumn("below", sum(col("c")).over(wCum) - col("c"))
      .withColumn("n", sum(col("c")).over(wAll))
      .withColumn("bin", expr(s"(below * ${k}L) div n"))
      .groupBy(col("g"), col("bin"))
      .agg(count(lit(1)).as("n_values"), sum(col("c")).as("n_rows"),
        min(col("v")).as("lo"), max(col("v")).as("hi"))
      .orderBy(col("g"), col("bin"))
  }

  /** Differential-privacy-STYLE noisy count release over (lang, source)
    * cells: sensitivity-1 counts plus Laplace(1/epsilon) noise drawn by
    * inverse-CDF from an md5-SEEDED uniform — so the release is a
    * deterministic, engine-neutral function of the cell labels and can
    * be oracle-checked. (A production DP release draws from a
    * non-reproducible CSPRNG; the MECHANISM — count + Laplace(Δ/ε),
    * Dwork et al. 2006 — is exactly this, and the deterministic seed is
    * what a pipeline uses to make reruns idempotent.)
    *
    * Determinism chain: u = first-8-hex(md5(lang|source|salt))/2^32 is
    * exact in both engines; the single ln is snapped to the 1e-8 grid;
    * sign/abs/multiply are fixed IEEE ops; the final value is trunc4'd.
    * The ln argument is clamped at 1e-12 (u = 0.5 exactly would give
    * ln 0), bounding |noise| at ~27.6/epsilon.
    * Scale shape: one partial-first aggregate to |langs × sources|
    * rows; the noise is a per-row projection.
    */
  def dpNoisyCounts(docs: DataFrame, epsilon: Double = 1.0): DataFrame = {
    import graft.ext.Num.{trunc4, trunc8}
    require(epsilon > 0, s"epsilon=$epsilon must be positive")
    val counts = docs
      .groupBy(col("lang"), col("source"))
      .agg(count(lit(1)).cast("long").as("n"))
    val h = conv(substring(
      md5(concat_ws("|", col("lang"), col("source"), lit("dp-v1"))), 1, 8), 16, 10)
      .cast("long")
    val c = h.cast("double") / lit(4294967296.0) - lit(0.5)
    val noise = lit(-1.0 / epsilon) * signum(c) *
      trunc8(log(greatest(lit(1.0e-12), lit(1.0) - lit(2.0) * abs(c))))
    counts
      .select(col("lang"), col("source"), col("n"),
        trunc4(col("n").cast("double") + noise).as("noisy_n"))
      .orderBy(col("lang"), col("source"))
  }

  /** N-gram novelty curve: for each document, the share of its distinct
    * word 3-grams that appear for the FIRST time in the corpus (min
    * doc_id owns the shingle), averaged over fixed-size doc buckets per
    * source. This is the "is the next crawl slice still buying new
    * content" signal — the n-gram analogue of [[vocabGrowth]]: vocab
    * saturates in thousands of docs, but 3-gram novelty keeps
    * discriminating because the shingle space is combinatorially
    * larger. A flat-lining curve says the source is re-crawling itself
    * (dedup budget), a high plateau says it keeps producing fresh text
    * (curation budget).
    *
    * Scale shape: the distinct hashed (doc, shingle) stream comes from
    * [[Dedup.shingleHashes]] — the SAME rolling-FNV mapPartitions
    * kernel behind the corpus-wide shingle index artifact, so the
    * query layer can hand this op the prewarmed materialized view and
    * the tokenize pass drops out of the per-query path entirely (the
    * earlier declarative `transform`+`concat_ws`+`xxhash64` shape
    * materialized every shingle STRING before hashing — the allocation
    * churn, not the arithmetic, was what made it the suite's most
    * load-fragile query: loaded reps [4.8s, 0.6s, 2.3s] vs 0.6s).
    * Shingles shuffle/join as 8-byte fingerprints, never strings; a
    * collision merges two shingles' first-seen attribution —
    * P ~ n^2/2^65, orders of magnitude below the 1e-4 output grid.
    * n_new per doc == |{shingles whose min holder is this doc}|, so
    * the stream needs only min-then-count; n_sh per doc is a plain
    * count — three hash aggregates whose state is ONE scalar per key,
    * hot-shingle-proof (a collect_list holder-list formulation would
    * buffer every doc id under a corpus-wide boilerplate shingle).
    * Per-doc novelty is an exact basis-point integer; the bucket
    * average divides exact integer sums. The per-source window orders
    * the already-aggregated |docs|-row frame, partitioned by source.
    */
  def ngramNovelty(
      docs: DataFrame,
      bucketSize: Int = 25,
      textCol: String = "text",
      keyCol: String = "doc_id"): DataFrame = {
    val norm =
      if (textCol == "text" && keyCol == "doc_id") docs
      else docs.select(col(keyCol).as("doc_id"), col(textCol).as("text"),
        col("source"))
    // two aggregates fan out from the hashed stream: checkpoint lazily
    // so the tokenize kernel runs ONCE (what's held is 16-byte pairs)
    ngramNoveltyFromShingles(
      Dedup.shingleHashes(norm).localCheckpoint(false), norm, bucketSize)
  }

  /** [[ngramNovelty]] over a pre-built distinct hashed shingle stream
    * (`doc_id: long, s: long` — [[Dedup.shingleHashes]]' schema). The
    * query layer passes the per-snapshot shingle-index materialized
    * view here, making the timed work two scalar hash aggregates over
    * a compact parquet scan. Docs below 3 tokens have no shingles,
    * never enter the stream, and stay out of the curve.
    */
  def ngramNoveltyFromShingles(
      docSh: DataFrame,
      docs: DataFrame,
      bucketSize: Int = 25): DataFrame = {
    require(bucketSize > 0, s"bucketSize=$bucketSize must be positive")
    val nSh = docSh
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).cast("long").as("n_sh"))
    val firstSeen = docSh
      .groupBy(col("s"))
      .agg(min(col("doc_id")).as("fd"))
      .groupBy(col("fd"))
      .agg(count(lit(1)).cast("long").as("n_new"))
      .withColumnRenamed("fd", "doc_id")
    // source re-attaches from the column-pruned |docs|-row projection
    val per = nSh
      .join(firstSeen, Seq("doc_id"), "left")
      .withColumn("n_new", coalesce(col("n_new"), lit(0L)))
      .join(docs.select(col("doc_id"), col("source")), Seq("doc_id"))
      .withColumn("bp", expr("(n_new * 10000L) div n_sh"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("source")).orderBy(col("doc_id"))
    per
      .withColumn("bucket", ((row_number().over(w) - 1) / bucketSize).cast("long"))
      .groupBy(col("source"), col("bucket"))
      .agg(count(lit(1)).cast("long").as("n_docs"),
        sum(col("bp")).cast("long").as("sbp"))
      .select(col("source"), col("bucket"), col("n_docs"),
        (expr("sbp div n_docs").cast("double") / 10000.0).as("novelty4"))
      .orderBy(col("source"), col("bucket"))
  }

  /** Train→test n-gram coverage: for each language, the share of the
    * TEST split's distinct word 3-grams that also occur anywhere in the
    * TRAIN split — the flip side of [[contaminationScreen]]: that op
    * hunts verbatim leakage (want LOW overlap on held-out eval sets);
    * this one measures distributional coverage (want HIGH — a test
    * shingle the model never saw a 3-gram context for is an
    * extrapolation case, and a LOW ratio flags a split whose test
    * slice drifted away from its training support). Splits come from
    * [[splitAssign]]'s engine-neutral multiplicative hash, so the
    * metric is reproducible across engines and dataset versions.
    *
    * Scale shape: the distinct hashed (doc, shingle) stream comes from
    * [[Dedup.shingleHashes]] (same collision-risk budget as
    * [[ngramNovelty]]: P ~ n^2/2^65, far below the 1e-4 output grid)
    * and joins the |docs|-row (lang, split) projection on the doc key —
    * at bench scale AQE broadcasts the projection, so attaching split
    * metadata costs no shuffle, and the query layer hands in the
    * prewarmed shingle-index materialized view so the tokenize kernel
    * drops out of the per-query path.
    * The wide aggregate groups by (sh, test-lang-or-null) with a single
    * int-max state — a pure Tungsten hash aggregate with map-side
    * partials. The earlier per-shingle `collect_set(lang)` formulation
    * was QUIESCED-fast but catastrophically load-fragile (r7 driver
    * reps [1.8s, 51.0s, 20.2s] vs 0.7s clean): collect_set is a
    * TypedImperativeAggregate, so it planned as ObjectHashAggregate,
    * whose in-memory map falls back to SORT-BASED aggregation past
    * `spark.sql.objectHashAggregate.sortBased.fallbackThreshold`
    * (default 128 keys) — with millions of distinct shingle hashes
    * every run external-sorted the whole exploded frame, which degrades
    * violently under memory pressure / CPU steal. Folding the lang into
    * the GROUP KEY instead keeps the dedup in codegen'd hash-agg space;
    * the distinct (sh, lang) pairs then checkpoint as compact rows
    * (shingle kernel runs ONCE — no planner roulette re-running the
    * explode per branch) and a long-keyed left join marks coverage.
    * Measured interleaved on/off in one JVM (sf0.1, medians of 4):
    * hash-agg 0.32s vs collect_set 0.82s quiesced; under 24 spinning
    * background threads 0.40s (reps 0.34-0.56) vs 1.69s (1.55-2.02);
    * under 48 threads 0.71s vs 2.19s — faster clean AND 4x flatter
    * under load. (An even earlier formulation fed the exploded frame
    * into two DISTINCTs plus a LEFT SEMI join: exchange reuse dedupes
    * shuffle FILES, not the three post-shuffle aggregate executions
    * stacked above them, so the shingle pipeline ran ~3x.)
    */
  def gramCoverage(
      docs: DataFrame,
      textCol: String = "text",
      keyCol: String = "doc_id"): DataFrame = {
    val norm =
      if (textCol == "text" && keyCol == "doc_id") docs
      else docs.select(col(keyCol).as("doc_id"), col(textCol).as("text"),
        col("lang"))
    gramCoverageFromShingles(Dedup.shingleHashes(norm), norm)
  }

  /** [[gramCoverage]] over a pre-built distinct hashed shingle stream
    * (`doc_id: long, s: long` — [[Dedup.shingleHashes]]' schema).
    */
  def gramCoverageFromShingles(docSh: DataFrame, docs: DataFrame): DataFrame = {
    import Num.trunc4
    // valid-split docs feed neither side: drop before the join
    val dim = splitAssign(docs, "doc_id")
      .filter(col("split").isin("train", "test"))
      .select(col("doc_id"), col("lang"), col("split"))
    // spreadBy(s): the dim join broadcasts, so this whole join +
    // aggregate segment would be single-task on a compacted single-file
    // shingle artifact. Keying the widening exchange on the shingle
    // hash makes it satisfy BOTH the (sh, tl) aggregate's distribution
    // and the train/test self-join on sh below — one exchange where
    // round-robin spread left three. No-op once the scan is wide.
    val sp = graft.Tables.spreadBy(docSh, col("s")).join(dim, Seq("doc_id"))
      .select(col("lang"), col("split"), col("s").as("sh"))
    // tl: the lang for test rows, null for train rows (and for
    // null-lang test rows, which the collect_set shape also
    // skipped — the tr bit keeps them from masquerading as train)
    val g = sp
      .select(col("sh"),
        when(col("split") === "test", col("lang")).as("tl"),
        when(col("split") === "train", 1).otherwise(0).as("tr"))
      .groupBy(col("sh"), col("tl"))
      .agg(max(col("tr")).as("tr"))
      // two branches read this: without the checkpoint, predicate
      // pushdown splits the exchange and the explode runs per branch
      .localCheckpoint(false)
    val trainSh = g.filter(col("tl").isNull && col("tr") === 1)
      .select(col("sh"), lit(1).as("in_train"))
    g.filter(col("tl").isNotNull)
      .select(col("sh"), col("tl").as("lang"))
      .join(trainSh, Seq("sh"), "left")
      .groupBy(col("lang"))
      .agg(count(lit(1)).cast("long").as("n_test_shingles"),
        sum(coalesce(col("in_train"), lit(0))).cast("long").as("n_covered"))
      .withColumn("coverage4",
        trunc4(col("n_covered").cast("double") / col("n_test_shingles").cast("double")))
      .orderBy(col("lang"))
  }

  /** Data-parallel shard assignment + balance audit: docs map to one of
    * `shards` training shards via the same high-bits multiplicative
    * hash as [[splitAssign]] (engine-neutral, append-stable — a new doc
    * never moves an old one), and the report shows each shard's doc
    * and character load against the perfect share. The imbalance
    * headline (max shard byte share / ideal share) is what decides
    * whether the pack order starves a data-parallel trainer. One
    * partial-first aggregate; |shards| output rows.
    */
  def shardBalance(
      docs: DataFrame,
      shards: Int = 64,
      keyCol: String = "doc_id",
      weightCol: String = "n_chars"): DataFrame = {
    import Num.trunc4
    require(shards > 1 && shards <= (1 << 20), s"shards=$shards out of range")
    val prod = pmod(
      pmod(col(keyCol).cast("long"), lit(2147483648L)) * lit(2654435761L),
      lit(4294967296L))
    val shard = shiftright(prod * lit(shards.toLong), 32)
    val per = docs.withColumn("shard", shard)
      .groupBy(col("shard"))
      .agg(count(lit(1)).cast("long").as("n_docs"),
        sum(col(weightCol).cast("long")).cast("long").as("n_chars"))
    val w = org.apache.spark.sql.expressions.Window.partitionBy()
    per.select(col("shard"), col("n_docs"), col("n_chars"),
      sum(col("n_chars")).over(w).cast("long").as("tot"))
      .select(col("shard"), col("n_docs"), col("n_chars"),
        trunc4(col("n_chars").cast("double") * shards /
          col("tot").cast("double")).as("load_ratio4"))
      .orderBy(col("shard"))
  }
}
