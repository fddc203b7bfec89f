package graft.ext

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window

/** Text analysis over the `documents` fixture (doc_id, text, lang,
  * source, n_chars) — training-data-pipeline ops: token counting,
  * language-ID heuristic, quality scoring, fingerprinting.
  *
  * Everything here is built-in-function only (codegen'd, zero UDFs):
  * at 100 TB of text these run inside WholeStageCodegen over the scan,
  * no shuffle until the (optional) aggregate.
  *
  * Cross-engine determinism: hashes use md5 (identical in Spark and
  * DuckDB); ratios divide exact integers so the double result is
  * bit-identical per row in both engines.
  */
object TextOps {

  /** Whitespace tokens — fixture text is single-space separated. */
  def tokens(c: Column): Column = split(c, " ")

  /** Token count (whitespace tokenizer). */
  def tokenCount(docs: DataFrame): DataFrame =
    docs.select(
      col("doc_id"),
      size(tokens(col("text"))).cast("bigint").as("n_tokens"),
      length(col("text")).cast("bigint").as("len_chars"))
      .orderBy(col("doc_id"))

  /** BPE-ish subword count: maximal runs of word chars plus isolated
    * punctuation — the standard pre-tokenizer regex shape.
    */
  def subwordCount(docs: DataFrame): DataFrame =
    docs.select(
      col("doc_id"),
      size(regexp_extract_all(col("text"), lit("[a-z0-9]+|[^a-z0-9\\s]"), lit(0)))
        .cast("bigint").as("n_subwords"))
      .orderBy(col("doc_id"))

  private val stopwords = Map(
    "en" -> Seq("the", "a", "of", "and", "to", "in", "is"),
    "es" -> Seq("el", "la", "de", "que", "y", "los"),
    "de" -> Seq("der", "die", "das", "und", "ist", "ein"),
    "fr" -> Seq("le", "la", "les", "et", "des", "un"))

  private def hits(toks: Column, words: Seq[String]): Column =
    size(filter(toks, w => w.isInCollection(words))).cast("bigint")

  /** Language-ID heuristic: stopword-hit voting with a deterministic
    * tie-break (en > es > de > fr > unknown). A real system would use
    * character n-gram profiles; the voting skeleton is the same shape —
    * per-row, no shuffle.
    *
    * The hit counting runs through the native codegen'd expression
    * [[graft.ext.expr.WordSetHits]] (`graft_word_hits`): ONE tokenize
    * pass serves all four languages with compiled HashSet probes,
    * inside WholeStageCodegen over the columnar scan (the HOF
    * formulation — `size(filter(toks, _.isInCollection(set)))` x 4 —
    * interprets ~4 lambda calls per token; the earlier mapPartitions
    * kernel matched the counts but deserialized every row). The argmax
    * tie-break is the same CASE expression the DuckDB oracle states.
    */
  def langId(docs: DataFrame): DataFrame = {
    graft.ext.expr.WordSetHits.ensureRegistered(docs.sparkSession)
    val langs = Seq("en", "es", "de", "fr")
    val hitsArr = call_function(graft.ext.expr.WordSetHits.name,
      col("text") +: langs.map(l => array(stopwords(l).map(lit): _*)): _*)
    val h = Seq.tabulate(4)(i => element_at(col("hits"), i + 1))
    val g = greatest(h: _*)
    // Null text ⇒ graft_word_hits returns null ⇒ every comparison below
    // is null (false); without the explicit guard the CASE would fall
    // through to the final otherwise() and silently classify null docs
    // as "fr". (Guard on `hits`, which survives the projection.)
    val pred = when(col("hits").isNull, "unknown")
      .when(g === 0L, "unknown")
      .when(h(0) === g, "en").when(h(1) === g, "es").when(h(2) === g, "de")
      .otherwise("fr")
    docs.select(col("doc_id").cast("long").as("doc_id"), col("lang"), hitsArr.as("hits"))
      .select(col("doc_id"), col("lang"),
        h(0).as("en_hits"), h(1).as("es_hits"), h(2).as("de_hits"), h(3).as("fr_hits"),
        pred.as("lang_pred"))
      .orderBy(col("doc_id"))
  }

  /** Quality scoring: token count, mean token length, stopword ratio,
    * composite score in [0,1].
    *
    * Ratios are truncated to 4 dp via floor(x*10^4)/10^4 rather than
    * round(): both engines then perform the IDENTICAL double ops
    * (multiply, floor, divide) on identical inputs, so results are
    * bit-equal. round() is not safe cross-engine: Spark rounds the
    * exact binary value (BigDecimal HALF_UP) while DuckDB rounds the
    * x*10^4 double, and the two disagree whenever that multiply crosses
    * the .5 boundary (observed at sf0.1).
    */
  def qualityScore(docs: DataFrame): DataFrame = {
    import Num.trunc4
    val t = tokens(col("text"))
    val nTok = size(t).cast("bigint")
    val nChar = length(col("text")).cast("bigint")
    // chars excluding separators = len - (n_tokens - 1)
    val meanTokLen = (nChar - (nTok - lit(1))).cast("double") / nTok.cast("double")
    val stopRatio = hits(t, stopwords("en")).cast("double") / nTok.cast("double")
    val lengthScore = least(nTok.cast("double") / lit(100.0), lit(1.0))
    docs.select(
      col("doc_id"),
      nTok.as("n_tokens"),
      trunc4(meanTokLen).as("mean_token_len"),
      trunc4(stopRatio).as("stopword_ratio"),
      trunc4(lengthScore * lit(0.7) + stopRatio * lit(0.3)).as("quality"))
      .orderBy(col("doc_id"))
  }

  /** Corpus term statistics: document frequency + total occurrences per
    * token, top-k by document frequency. The shape of IDF computation
    * and stopword discovery: one explode + one aggregate, map-side
    * combined; top-k via TakeOrderedAndProject, never a full sort.
    */
  def topTerms(docs: DataFrame, k: Int = 50): DataFrame =
    docs.select(col("doc_id"), explode(tokens(col("text"))).as("term"))
      .groupBy(col("term"))
      .agg(countDistinct(col("doc_id")).as("n_docs"), count(lit(1)).as("n_occurrences"))
      .orderBy(col("n_docs").desc, col("n_occurrences").desc, col("term"))
      .limit(k)

  /** Zipf's-law fit over the corpus frequency spectrum: OLS of
    * ln(freq) on ln(rank) across the top-k terms — natural language
    * sits near slope -1, and a corpus that doesn't (templated spam,
    * log dumps, synthetic filler) flags itself in one number.
    *
    * Cross-engine exactness: ln outputs are trunc8-snapped and SCALED
    * TO INTEGERS (x1e8) before any summation, so Sx/Sy accumulate as
    * plain longs and the cross-moments Sxx/Sxy as decimal(38,0) —
    * order-free exact integer sums; the closed-form slope/intercept
    * then divides identical exact integers in both engines (pure IEEE,
    * one trunc4 at the end). Scale shape: one explode + partial-first
    * term count, TakeOrdered top-k, and all OLS arithmetic on the
    * k-row frame.
    */
  def zipfFit(docs: DataFrame, k: Int = 200): DataFrame = {
    import graft.ext.Num.trunc4
    val freqs = docs.select(explode(tokens(col("text"))).as("term"))
      .groupBy(col("term")).agg(count(lit(1)).cast("long").as("f"))
      .orderBy(col("f").desc, col("term"))
      .limit(k)
    val w = Window.orderBy(col("f").desc, col("term"))
    // floor(ln*1e8) directly (NOT trunc8 then re-scale: the /1e8*1e8
    // round-trip can land an ulp below the integer and re-floor lower)
    val pts = freqs
      .withColumn("r", row_number().over(w).cast("long"))
      .select(
        floor(log(col("r").cast("double")) * 1e8).cast("long").as("x8"),
        floor(log(col("f").cast("double")) * 1e8).cast("long").as("y8"))
    pts.agg(
        count(lit(1)).cast("long").as("n"),
        sum(col("x8")).cast("long").as("sx"),
        sum(col("y8")).cast("long").as("sy"),
        sum(col("x8").cast("decimal(38,0)") * col("x8").cast("decimal(38,0)")).as("sxx"),
        sum(col("x8").cast("decimal(38,0)") * col("y8").cast("decimal(38,0)")).as("sxy"))
      .select(col("n"),
        ((col("n").cast("double") * col("sxy").cast("double") -
          col("sx").cast("double") * col("sy").cast("double")) /
          (col("n").cast("double") * col("sxx").cast("double") -
            col("sx").cast("double") * col("sx").cast("double"))).as("m"),
        col("sx"), col("sy"))
      .select(col("n").as("n_terms"),
        trunc4(col("m")).as("slope4"),
        trunc4((col("sy").cast("double") / 1e8 -
          col("m") * col("sx").cast("double") / 1e8) / col("n").cast("double"))
          .as("intercept4"))
  }

  /** Term burstiness (Fano factor over containing docs): Var/mean of a
    * term's per-document count — topical terms clump (burstiness >> 1:
    * when they appear, they appear repeatedly), function words spread
    * evenly (~scattered around the mean). The statistic behind
    * burstiness-corrected IDF and template detection. Exact until the
    * last op: per-doc counts, their sum and sum-of-squares are
    * integers, Fano = (n*sumsq - tot^2) / (n*tot) divides two exact
    * integers once (trunc4). Top-k by burstiness, df-filtered so
    * one-doc flukes don't dominate.
    */
  def termBurstiness(docs: DataFrame, minDocs: Long = 20, k: Int = 25): DataFrame = {
    import graft.ext.Num.trunc4
    val perDoc = docs
      .select(col("doc_id"), explode(tokens(col("text"))).as("term"))
      .groupBy(col("term"), col("doc_id"))
      .agg(count(lit(1)).cast("long").as("c"))
    perDoc.groupBy(col("term"))
      .agg(count(lit(1)).cast("long").as("n_docs"),
        sum(col("c")).cast("long").as("tot"),
        sum(col("c") * col("c")).cast("long").as("sumsq"))
      .filter(col("n_docs") >= minDocs)
      .select(col("term"), col("n_docs"), col("tot"),
        trunc4((col("n_docs").cast("double") * col("sumsq").cast("double") -
          col("tot").cast("double") * col("tot").cast("double")) /
          (col("n_docs").cast("double") * col("tot").cast("double")))
          .as("burstiness4"))
      .orderBy(col("burstiness4").desc, col("term"))
      .limit(k)
  }

  /** Printable-ASCII profile per document: count of characters outside
    * the space..tilde range (control bytes, mojibake, unexpected
    * unicode) and their share — the cheap encoding-health audit a
    * crawl pipeline runs before tokenization. One codegen'd
    * regexp_replace per row, fused into the scan; the `[^ -~]` class
    * means the same thing to every regex engine.
    *
    * (Character counting note: lengths are UTF-16 code units on the
    * JVM; corpora with astral-plane characters count them as 2 here —
    * the flag semantics are unaffected.)
    */
  def asciiProfile(docs: DataFrame, maxRatio: Double = 0.05): DataFrame = {
    import graft.ext.Num.trunc4
    val nChars = length(col("text")).cast("long")
    val nPrintable = length(regexp_replace(col("text"), "[^ -~]", "")).cast("long")
    docs.select(col("doc_id"), nChars.as("n_chars"),
        (nChars - nPrintable).as("n_nonprintable"))
      .withColumn("ratio4",
        trunc4(when(col("n_chars") === 0, lit(0.0))
          .otherwise(col("n_nonprintable").cast("double") / col("n_chars").cast("double"))))
      .withColumn("flagged", (col("ratio4") > maxRatio).cast("int"))
      .orderBy(col("doc_id"))
  }

  /** Normalize-then-hash document fingerprint: md5 of
    * lowercase(whitespace-collapsed) text. md5 agrees across engines, so
    * the fingerprint is portable — it is also the grouping key for
    * [[Dedup.exactDedup]].
    */
  def fingerprintCol(c: Column): Column =
    md5(lower(regexp_replace(c, "\\s+", " ")))

  def fingerprint(docs: DataFrame): DataFrame =
    docs.select(col("doc_id"), fingerprintCol(col("text")).as("fp"))
      .orderBy(col("doc_id"))

  /** Conjunctive keyword search over the corpus: documents containing
    * ALL the query terms, ranked by total term frequency. The posting
    * "index" is built and consumed in one pass: explode to tokens,
    * keep only query-term hits — the isin filter runs BEFORE the
    * shuffle, so the aggregate receives |terms|-bounded postings, not
    * the corpus — then a per-doc partial-first aggregate enforces the
    * AND (distinct matched terms == |query|) and TakeOrderedAndProject
    * emits the top-k. No full-text index materialization needed for
    * ad-hoc queries; [[Dedup.incrementalDedup]]-style persisted state
    * is the repeated-query upgrade.
    */
  def searchConjunctive(docs: DataFrame, terms: Seq[String], k: Int = 20): DataFrame = {
    require(terms.nonEmpty, "need at least one query term")
    graft.Tables.spread(docs)
      .select(col("doc_id"), explode(tokens(col("text"))).as("term"))
      .filter(col("term").isin(terms: _*))
      .groupBy(col("doc_id"))
      .agg(countDistinct(col("term")).as("n_terms"), count(lit(1)).as("total_tf"))
      .filter(col("n_terms") === terms.size)
      .select(col("doc_id"), col("total_tf"))
      .orderBy(col("total_tf").desc, col("doc_id"))
      .limit(k)
  }

  /** nDCG@k of the [[searchConjunctive]] bag-of-words ranking scored
    * against a STRICTER relevance signal — exact adjacent-phrase
    * occurrences ([[searchPhrase]] semantics) — the standard ranking-
    * quality eval a search pipeline reports before its ordering is
    * trusted: how much of the phrase-relevance mass does the cheap tf
    * ranking put up front? DCG discounts are integer-scaled
    * (floor(1e8 / trunc8(log2(rank+1))) — the log snapped to the 1e-8
    * grid first, the [[Num.trunc8]] cross-engine convention), so DCG
    * and ideal-DCG are EXACT integer sums and the single final divide
    * is engine-neutral. The rank windows run over the top-k frame
    * only; the phrase recount touches just those k docs' postings.
    */
  def searchNdcg(docs: DataFrame, w1: String, w2: String, k: Int = 20): DataFrame = {
    import graft.ext.Num.{trunc4, trunc8}
    val hits = searchConjunctive(docs, Seq(w1, w2), k)
    // phrase-occurrence relevance for exactly the ranked docs (left
    // join: a doc whose terms never sit adjacent grades 0)
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("doc_id")).orderBy(col("pos"))
    val phrase = graft.Tables.spread(docs)
      .join(hits.select(col("doc_id")), Seq("doc_id"), "left_semi")
      .select(col("doc_id"), posexplode(tokens(col("text"))).as(Seq("pos", "term")))
      .filter(col("term").isin(w1, w2))
      .withColumn("nxt_term", lead(col("term"), 1).over(w))
      .withColumn("nxt_pos", lead(col("pos"), 1).over(w))
      .filter(col("term") === w1 && col("nxt_term") === w2 &&
        col("nxt_pos") === col("pos") + 1)
      .groupBy(col("doc_id")).agg(count(lit(1)).cast("long").as("rel"))
    val graded = hits.join(phrase, Seq("doc_id"), "left")
      .select(col("doc_id"), col("total_tf"), coalesce(col("rel"), lit(0L)).as("rel"))
    val wRank = org.apache.spark.sql.expressions.Window
      .orderBy(col("total_tf").desc, col("doc_id"))
    val wIdeal = org.apache.spark.sql.expressions.Window
      .orderBy(col("rel").desc, col("doc_id"))
    def disc8(rk: org.apache.spark.sql.Column) =
      floor(lit(1.0e8) / trunc8(log2(rk.cast("double") + lit(1.0)))).cast("long")
    val scored = graded
      .withColumn("w8", disc8(row_number().over(wRank)))
      .withColumn("iw8", disc8(row_number().over(wIdeal)))
    scored.agg(
      count(lit(1)).as("n_results"),
      sum(col("rel") * col("w8")).cast("long").as("dcg8"),
      sum(col("rel") * col("iw8")).cast("long").as("idcg8"))
      .select(col("n_results"), col("dcg8"), col("idcg8"),
        when(col("idcg8") > 0,
          trunc4(col("dcg8").cast("double") / col("idcg8").cast("double")))
          .otherwise(lit(0.0)).as("ndcg4"))
  }

  /** Term-pair association by LIFT: P(a,b) / (P(a) P(b)) over per-
    * document distinct terms = (c_ab * N) / (c_a * c_b) — deliberately
    * the RATIO, not PMI's log of it: one exact-integer multiply per
    * side and one division, bit-identical across engines where libm
    * log is not (same policy as tf/df in [[Curation.tfIdfTop]], and
    * monotone in PMI so the ranking is unchanged). Pairs come from a
    * per-document distinct-term self-join (bounded by per-doc
    * vocabulary; cap documents upstream for adversarial inputs), then
    * two partial-first aggregates and a TakeOrdered top-k. Min support
    * keeps rare-pair noise out.
    */
  def termLift(docs: DataFrame, minSupport: Long = 20, k: Int = 30): DataFrame = {
    import graft.ext.Num.trunc4
    // persisted: FOUR consumers reference this frame (the doc count,
    // the df aggregate, and both sides of the broadcast self-join), and
    // with no exchange between them nothing else dedupes the
    // tokenize+distinct+explode kernel — unpersisted it ran 4x per rep
    val dt = graft.Tables.spread(docs)
      .select(col("doc_id"), explode(array_distinct(tokens(col("text")))).as("term"))
      .persist()
    val nDocs = dt.agg(countDistinct(col("doc_id")).as("n_docs"))
    val tf = dt.groupBy(col("term")).agg(count(lit(1)).as("df"))
    // NO pinWide on the self-join: unlike the posting-list kernels, the
    // per-doc term frame is small enough that AQE converts this to a
    // broadcast-hash self-join (zero shuffle) — a user repartition just
    // adds a wasted exchange in front of it (interleaved A/B at sf0.1:
    // 0.48s unpinned vs 0.83s pinned).
    val pairs = dt.as("a")
      .join(dt.as("b"),
        col("a.doc_id") === col("b.doc_id") && col("a.term") < col("b.term"))
      .groupBy(col("a.term").as("term_a"), col("b.term").as("term_b"))
      .agg(count(lit(1)).as("c_ab"))
      .filter(col("c_ab") >= minSupport)
    pairs
      .join(tf.select(col("term").as("term_a"), col("df").as("c_a")), "term_a")
      .join(tf.select(col("term").as("term_b"), col("df").as("c_b")), "term_b")
      .crossJoin(broadcast(nDocs))
      .select(col("term_a"), col("term_b"), col("c_ab"),
        trunc4((col("c_ab") * col("n_docs")).cast("double") /
          (col("c_a") * col("c_b")).cast("double")).as("lift4"))
      .orderBy(col("lift4").desc, col("term_a"), col("term_b"))
      .limit(k)
  }

  /** Exact phrase search: documents containing the query tokens as an
    * ADJACENT run, with the occurrence count. Same one-pass posting
    * shape as [[searchConjunctive]], but hits must line up
    * positionally: posexplode keeps token positions, the isin filter
    * drops everything but query-term hits before any shuffle, and a
    * per-document sort-free window pairs each position with its
    * successor (per-doc state only). Currently two-token phrases — the
    * n-token generalization chains n-1 leads.
    */
  def searchPhrase(docs: DataFrame, w1: String, w2: String, k: Int = 20): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("doc_id")).orderBy(col("pos"))
    graft.Tables.spread(docs)
      .select(col("doc_id"), posexplode(tokens(col("text"))).as(Seq("pos", "term")))
      .filter(col("term").isin(w1, w2))
      .withColumn("nxt_term", lead(col("term"), 1).over(w))
      .withColumn("nxt_pos", lead(col("pos"), 1).over(w))
      .filter(col("term") === w1 && col("nxt_term") === w2 &&
        col("nxt_pos") === col("pos") + 1)
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_occurrences"))
      .orderBy(col("n_occurrences").desc, col("doc_id"))
      .limit(k)
  }

  /** Corpus bigram language model (top-k transitions): conditional
    * probability P(w2 | w1) = count(w1 w2) / count(w1 _) from adjacent
    * token pairs. The unigram denominator is the row-sum of the bigram
    * table, so one explode feeds both aggregates.
    *
    * Scale shape: posexplode then a lead window PARTITIONED BY doc_id
    * (per-document state only — no global sort), two partial-first
    * aggregates, a shuffled join on w1 (vocabulary-sized, data-
    * dependent — AQE broadcasts when small), and TakeOrderedAndProject
    * for the top-k. The probability is one division of exact integer
    * counts, trunc4'd — engine-neutral.
    */
  def bigramModel(docs: DataFrame, k: Int = 30): DataFrame = {
    import graft.ext.Num.trunc4
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("doc_id")).orderBy(col("pos"))
    val bg = graft.Tables.spread(docs)
      .select(col("doc_id"), posexplode(tokens(col("text"))).as(Seq("pos", "w")))
      .select(col("w").as("w1"), lead(col("w"), 1).over(w).as("w2"))
      .filter(col("w2").isNotNull)
    val c12 = bg.groupBy(col("w1"), col("w2")).agg(count(lit(1)).as("n_pair"))
    val c1 = c12.groupBy(col("w1")).agg(sum(col("n_pair")).cast("long").as("n_first"))
    c12.join(c1, "w1")
      .select(col("w1"), col("w2"), col("n_pair"), col("n_first"),
        trunc4(col("n_pair").cast("double") / col("n_first").cast("double")).as("cond_p"))
      .orderBy(col("n_pair").desc, col("w1"), col("w2"))
      .limit(k)
  }

  /** N-token exact phrase search — the general form [[searchPhrase]]'s
    * scaladoc promises. Same one-pass posting shape: posexplode keeps
    * positions, the isin filter drops every non-query token before any
    * shuffle, and n-1 chained leads over the per-document position
    * window verify the run: lead(i) must carry word i AND sit at
    * pos + i. Because only query-term hits survive the filter, the
    * position arithmetic alone proves the i intermediate slots are
    * exactly the required words — no array reassembly, no substring
    * scan of the raw text.
    *
    * Scale shape: the window is PARTITIONED BY doc_id (per-document
    * state only, no global sort), state per partition is n-1 rows of
    * look-ahead, and the shuffle carries only query-term hits — for a
    * selective phrase that is a vanishing fraction of the corpus.
    */
  def searchPhraseN(docs: DataFrame, words: Seq[String], k: Int = 20): DataFrame = {
    require(words.length >= 2, s"phrase needs >= 2 tokens, got ${words.length}")
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("doc_id")).orderBy(col("pos"))
    val hits = graft.Tables.spread(docs)
      .select(col("doc_id"), posexplode(tokens(col("text"))).as(Seq("pos", "term")))
      .filter(col("term").isin(words: _*))
    val run = words.zipWithIndex.tail.foldLeft(col("term") === words.head) {
      case (acc, (word, i)) =>
        acc && lead(col("term"), i).over(w) === word &&
          lead(col("pos"), i).over(w) === col("pos") + i
    }
    hits
      .withColumn("is_run", run)
      .filter(col("is_run"))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_occurrences"))
      .orderBy(col("n_occurrences").desc, col("doc_id"))
      .limit(k)
  }

  /** Per-language lexical-richness profile: token count, type count,
    * hapax-legomena count (terms occurring exactly once in that
    * language's subcorpus), type-token ratio, and hapax share. TTR and
    * hapax rate are the standard cheap signals for template spam (low
    * TTR) and OCR noise / mojibake (high hapax share) when triaging a
    * crawl before expensive model-based quality scoring.
    *
    * Scale shape: one explode, then two partial-first aggregates —
    * (lang, term) counts shrink the stream to vocabulary size, and the
    * per-language rollup is a handful of rows. All counts are exact
    * integers; the two ratios are single divisions, trunc4'd.
    */
  def lexicalProfile(docs: DataFrame): DataFrame = {
    import graft.ext.Num.trunc4
    val tc = graft.Tables.spread(docs)
      .select(col("lang"), explode(tokens(col("text"))).as("term"))
      .groupBy(col("lang"), col("term")).agg(count(lit(1)).as("c"))
    tc.groupBy(col("lang"))
      .agg(sum(col("c")).cast("long").as("n_tokens"),
        count(lit(1)).as("n_types"),
        sum(when(col("c") === 1, 1L).otherwise(0L)).cast("long").as("n_hapax"))
      .select(col("lang"), col("n_tokens"), col("n_types"), col("n_hapax"),
        trunc4(col("n_types").cast("double") / col("n_tokens").cast("double")).as("ttr4"),
        trunc4(col("n_hapax").cast("double") / col("n_types").cast("double")).as("hapax4"))
      .orderBy(col("lang"))
  }

  /** Conditional entropy H(w2|w1) of the corpus bigram model, in bits
    * — the sequence-level repetitiveness signal [[bigramModel]]'s
    * top-k view doesn't give: boilerplate/template corpora have LOW
    * conditional entropy (each word's successor is predictable) even
    * when their unigram entropy looks healthy. H = Σ c12·ln(c1/c12) /
    * N / ln 2 over exact integer counts.
    *
    * Scale shape: identical to [[bigramModel]] — per-doc lead window,
    * two partial-first aggregates, one vocabulary-sized join — plus a
    * single global scalar reduce. The ln(count ratio) calls are the
    * libm lean, same policy as tokenEntropy: ≤1-ulp per term, summed
    * error orders below the trunc4 grid.
    */
  def bigramEntropy(docs: DataFrame): DataFrame = {
    import graft.ext.Num.trunc4
    val ln2 = math.log(2.0)
    // posexplode + per-doc window lead stays: a window-free rewrite
    // (transform over an index sequence emitting packed "w1 w2"
    // strings, split back after the count aggregate) was built and
    // MEASURED REJECTED (interleaved in one JVM, sf0.1: new
    // 0.71-0.83s vs window 0.60-0.73s medians) — the
    // per-bigram concat allocation outweighs the doc_id exchange it
    // removes, the same verdict the arrays_zip variant got in r11
    // (see docLogLoss below).
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("doc_id")).orderBy(col("pos"))
    val bg = graft.Tables.spread(docs)
      .select(col("doc_id"), posexplode(tokens(col("text"))).as(Seq("pos", "w")))
      .select(col("w").as("w1"), lead(col("w"), 1).over(w).as("w2"))
      .filter(col("w2").isNotNull)
    val c12 = bg.groupBy(col("w1"), col("w2")).agg(count(lit(1)).as("c12"))
    val c1 = c12.groupBy(col("w1")).agg(sum(col("c12")).cast("long").as("c1"))
    c12.join(c1, "w1")
      .select(col("c12"),
        (col("c12").cast("double") *
          log(col("c1").cast("double") / col("c12").cast("double"))).as("t"))
      .agg(sum(col("c12")).cast("long").as("n_bigrams"),
        count(lit(1)).as("n_distinct"),
        trunc4(sum(col("t")) / sum(col("c12")).cast("double") / lit(ln2))
          .as("cond_entropy_bits"))
  }

  /** Lang-ID confusion matrix: the [[langId]] heuristic's prediction
    * against the labeled lang column — the quality eval every
    * classifier-based router needs before its output is trusted for
    * corpus partitioning. Rows are (actual, predicted, n); diagonal
    * mass = accuracy, off-diagonal rows name the confusable pairs,
    * 'unknown' rows measure the heuristic's abstention rate.
    * Scale: the classify pass is the langId map-side kernel; the
    * matrix is one partial-first aggregate over |langs|² keys.
    */
  def langIdEval(docs: DataFrame): DataFrame =
    langId(docs)
      .groupBy(col("lang"), col("lang_pred"))
      .agg(count(lit(1)).as("n"))
      .orderBy(col("lang"), col("lang_pred"))

  /** Per-document bigram log-loss histogram — the CCNet-style
    * perplexity quality filter, with the corpus itself as the LM:
    * score every document by its mean −log₂ P(w2|w1) under the
    * corpus bigram model (add-one smoothed against the unigram
    * continuation so unseen pairs stay finite), then bucket into
    * 0.5-bit bins. Documents far above the corpus mode are
    * out-of-distribution (mojibake, foreign text, tables); far below
    * are degenerate repetition — both tails get cut in a real
    * pipeline, and this histogram is where the thresholds come from.
    *
    * Scale shape: the doc-side bigram stream joins the (w1,w2) count
    * table (vocabulary-sized, data-dependent — AQE broadcasts when
    * small) and aggregates per doc; one more partial-first aggregate
    * builds the histogram. Probabilities are exact integer ratios
    * (smoothed: (c12+1)/(c1+V)); the ln is the usual ≤1-ulp libm lean
    * and the bucket edge sits 1e-13 of noise away from a 0.5-wide
    * boundary — absorbed.
    */
  def docLogLoss(docs: DataFrame): DataFrame = {
    val ln2 = math.log(2.0)
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("doc_id")).orderBy(col("pos"))
    // posexplode + window-lead stays: the shuffle-free alternative
    // (explode an arrays_zip of the two shifted token-array slices)
    // measured SLOWER interleaved at sf0.1 (~1.0s -> ~1.3s medians) —
    // slice COPIES the token array twice and arrays_zip wraps every
    // bigram in a struct, and that per-row allocation outweighs the
    // per-doc sort it removed
    val bg = graft.Tables.spread(docs)
      .select(col("doc_id"), posexplode(tokens(col("text"))).as(Seq("pos", "w")))
      .select(col("doc_id"), col("w").as("w1"), lead(col("w"), 1).over(w).as("w2"))
      .filter(col("w2").isNotNull)
      .localCheckpoint(false) // feeds the LM build AND the scoring join
    val c12 = bg.groupBy(col("w1"), col("w2")).agg(count(lit(1)).as("c12"))
    val c1 = c12.groupBy(col("w1")).agg(sum(col("c12")).cast("long").as("c1"))
    val vocab = c12.agg(countDistinct(col("w2")).as("v"))
    val lm = c12.join(c1, "w1").crossJoin(broadcast(vocab))
      .select(col("w1"), col("w2"),
        (-log((col("c12") + lit(1L)).cast("double") /
          (col("c1") + col("v")).cast("double")) / lit(ln2)).as("bits"))
    // SHUFFLE_HASH on the LM side: the static planner otherwise
    // broadcasts the checkpointed DOC-side bigram stream (measured
    // sf0.1: a 41 MB / 265k-row broadcast collect per rep) — and the
    // LM (vocabulary-sized) is the side that cannot be assumed
    // broadcastable at corpus scale either, so partitioned-hash it
    val perDoc = bg.join(lm.hint("SHUFFLE_HASH"), Seq("w1", "w2"))
      .groupBy(col("doc_id"))
      .agg((sum(col("bits")) / count(lit(1)).cast("double")).as("mean_bits"))
    perDoc
      .select(floor(col("mean_bits") * 2.0).cast("long").as("bucket"))
      .groupBy(col("bucket")).agg(count(lit(1)).as("n_docs"))
      .orderBy(col("bucket"))
  }

  /** Zipf's-law fit: OLS slope of ln(freq) on ln(rank) over the top-N
    * terms. Natural corpora sit near slope -1; a much flatter slope
    * flags template/boilerplate floods, a much steeper one flags a
    * degenerate vocabulary — a one-number corpus health check used
    * when triaging crawl snapshots.
    *
    * Scale shape: one partial-first term count, a TakeOrdered top-N,
    * and a single-partition row_number over the N-row frame — the fact
    * stream is never sorted. Determinism: ranks and counts are exact
    * integers; the ln values are snapped to the 1e-8 grid
    * ([[graft.ext.Num.trunc8]]) so both engines sum bit-identical
    * inputs, and the residual summation-order noise (~1e-13 over N
    * terms) is absorbed by the output trunc4.
    */
  /** Per-language character-trigram profile: the top-k most frequent
    * 3-char substrings (spaces included) per language — the actual
    * feature table an n-gram language identifier trains on, and the
    * drift read for "is this shard really the language it claims".
    *
    * Shape: position explode + substring are codegen'd scalar ops
    * (code-point-based in BOTH engines, so multi-byte text agrees);
    * the groupBy count is partial-first, so the shuffle carries the
    * per-partition (lang, trigram) VOCABULARY, not the corpus's char
    * stream; the rank window runs per language over that vocabulary
    * frame only.
    */
  def charTrigramProfile(docs: DataFrame, k: Int = 10): DataFrame = {
    val counts = graft.Tables.spread(docs)
      .filter(char_length(col("text")) >= 3)
      .select(col("lang"),
        expr("explode(sequence(1, char_length(text) - 2))").as("i"), col("text"))
      .select(col("lang"), expr("substring(text, i, 3)").as("trigram"))
      .groupBy(col("lang"), col("trigram")).agg(count(lit(1)).as("n"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("lang")).orderBy(col("n").desc, col("trigram"))
    counts.withColumn("rk", row_number().over(w).cast("long"))
      .filter(col("rk") <= k)
      .select(col("lang"), col("trigram"), col("n"), col("rk"))
      .orderBy(col("lang"), col("rk"))
  }

  def zipfSlope(docs: DataFrame, topN: Int = 100): DataFrame = {
    import graft.ext.Num.{trunc4, trunc8}
    val tc = graft.Tables.spread(docs)
      .select(explode(tokens(col("text"))).as("term"))
      .groupBy(col("term")).agg(count(lit(1)).as("n"))
      .orderBy(col("n").desc, col("term")).limit(topN)
    val w = org.apache.spark.sql.expressions.Window
      .orderBy(col("n").desc, col("term"))
    val m = tc.withColumn("rank", row_number().over(w))
      .select(trunc8(log(col("rank").cast("double"))).as("x"),
        trunc8(log(col("n").cast("double"))).as("y"))
      .agg(count(lit(1)).cast("double").as("nt"),
        sum(col("x")).as("sx"), sum(col("y")).as("sy"),
        sum(col("x") * col("y")).as("sxy"), sum(col("x") * col("x")).as("sxx"))
    val slope = (col("nt") * col("sxy") - col("sx") * col("sy")) /
      (col("nt") * col("sxx") - col("sx") * col("sx"))
    m.select(col("nt").cast("long").as("n_terms"),
      trunc4(slope).as("slope4"),
      trunc4((col("sy") - slope * col("sx")) / col("nt")).as("intercept4"))
  }

  /** BM25 ranked retrieval (Robertson/Sparck-Jones, public literature):
    * disjunctive query, score(D) = sum over matched terms of
    * IDF(t) * tf*(k1+1) / (tf + k1*(1-b + b*dl/avgdl)), with
    * IDF(t) = ln(1 + (N-df+0.5)/(df+0.5)). This is the ranking upgrade
    * over [[searchConjunctive]]'s raw-tf ordering: rare terms weigh
    * more, long documents are length-normalized.
    *
    * Scale shape: tf is one shuffle on (doc_id, term) restricted to the
    * |terms| query terms (the isin filter reaches the scan, so the
    * exploded stream is pruned before the exchange); df and the corpus
    * stats (N, sum dl) are O(|terms|) / O(1) broadcasts; the final
    * ordering is TakeOrderedAndProject. Nothing row-proportional leaves
    * the executors except the matched docs' per-term rows.
    *
    * Cross-engine determinism: the only libm value (ln) is snapped to
    * the 1e-8 grid (Num.trunc8) before use; each per-term score is then
    * floored onto an integer 1e-8 grid and SUMMED AS LONGS, so the
    * cross-term addition is exact and order-free in any engine. Ranking
    * ties break on doc_id.
    */
  def searchBm25(
      docs: DataFrame,
      terms: Seq[String],
      k: Int = 20,
      k1: Double = 1.2,
      b: Double = 0.75): DataFrame = {
    import graft.ext.Num.{trunc4, trunc8}
    require(terms.nonEmpty, "need at least one query term")
    val d = graft.Tables.spread(docs)
    val dl = d.select(col("doc_id"), size(tokens(col("text"))).cast("long").as("dl"))
    val corpus = dl.agg(
      count(lit(1)).cast("long").as("n_docs"),
      sum(col("dl")).cast("long").as("sum_dl"))
    val tf = d.select(col("doc_id"), explode(tokens(col("text"))).as("term"))
      .filter(col("term").isin(terms: _*))
      .groupBy(col("doc_id"), col("term")).agg(count(lit(1)).as("tf"))
    val dfreq = tf.groupBy(col("term")).agg(count(lit(1)).as("df"))
    val joined = tf
      .join(broadcast(dfreq), "term")
      .join(dl, "doc_id")
      .crossJoin(broadcast(corpus))
    val nD = col("n_docs").cast("double")
    val avgdl = col("sum_dl").cast("double") / nD
    val idf = trunc8(log(
      (nD - col("df").cast("double") + lit(0.5)) / (col("df").cast("double") + lit(0.5)) + lit(1.0)))
    val tfD = col("tf").cast("double")
    val raw = idf * (tfD * lit(k1 + 1.0)) /
      (tfD + lit(k1) * (lit(1.0 - b) + lit(b) * col("dl").cast("double") / avgdl))
    joined
      .select(col("doc_id"), floor(raw * lit(1.0e8)).cast("long").as("s8"))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_terms"), sum(col("s8")).as("score8"))
      .orderBy(col("score8").desc, col("doc_id"))
      .limit(k)
      .select(col("doc_id"), col("n_terms"),
        trunc4(col("score8").cast("double") / lit(1.0e8)).as("score"))
  }

  /** EXACT heavy hitters (terms with frequency strictly above
    * `thresholdPpm` parts-per-million of the corpus) via the
    * sketch-then-verify scale pattern: a Misra–Gries summary per
    * partition proposes candidates, an exact second pass counts and
    * filters them. The OUTPUT is exact — Misra–Gries with m counters
    * retains every term whose partition frequency exceeds n_p/m, and a
    * term above the global threshold must be above it in >= 1 partition
    * (pigeonhole), so with m >= 1e6/thresholdPpm no true heavy hitter
    * can be missed; false candidates die in the exact verify. The
    * threshold compare is pure integers (n * 1e6 > N * ppm).
    *
    * Why not just groupBy-count-filter? At 100 TB the full (term,count)
    * shuffle is the dominant cost and almost all of it is tail terms;
    * here the exact pass counts ONLY the <= m·partitions candidates
    * (broadcast semi-join pruned before the shuffle), so shuffle volume
    * is bounded by the summary size, not the vocabulary.
    */
  def heavyHitters(docs: DataFrame, thresholdPpm: Long = 5000,
      counters: Int = 400): DataFrame = {
    import graft.ext.Num.trunc4
    require(thresholdPpm > 0 && thresholdPpm <= 1000000, s"ppm=$thresholdPpm out of range")
    require(counters.toLong * thresholdPpm >= 1000000L,
      s"counters=$counters too small for ppm=$thresholdPpm (need >= 1e6/ppm)")
    val spark = docs.sparkSession
    import spark.implicits._
    val terms = graft.Tables.spread(docs)
      .select(explode(tokens(col("text"))).as("term")).as[String]
    val cands = terms.mapPartitions { it =>
      val counts = new scala.collection.mutable.HashMap[String, Long]()
      it.foreach { t =>
        counts.get(t) match {
          case Some(c) => counts.update(t, c + 1)
          case None =>
            if (counts.size < counters) counts.update(t, 1L)
            else {
              // decrement-all: the classic Misra-Gries eviction step
              val dead = new scala.collection.mutable.ArrayBuffer[String]()
              counts.foreach { case (k, v) =>
                if (v == 1L) dead += k else counts.update(k, v - 1)
              }
              dead.foreach(counts.remove)
            }
        }
      }
      counts.keysIterator
    }.toDF("term").distinct()
    val total = terms.toDF("term")
      .agg(count(lit(1)).cast("long").as("n_total"))
    terms.toDF("term")
      .join(broadcast(cands), Seq("term"), "left_semi")
      .groupBy(col("term")).agg(count(lit(1)).cast("long").as("n"))
      .crossJoin(broadcast(total))
      .filter(col("n") * lit(1000000L) > col("n_total") * lit(thresholdPpm))
      .select(col("term"), col("n"), col("n_total"),
        trunc4(col("n").cast("double") / col("n_total").cast("double")).as("share"))
      .orderBy(col("n").desc, col("term"))
  }

  /** RAKE-style keyphrase extraction (Rose et al. 2010, made exact):
    * candidate phrases are maximal stopword-delimited token runs of
    * length 2..`maxLen`; each word scores degree/frequency (degree =
    * summed length of the phrases it appears in, frequency = its
    * occurrence count in phrases), a phrase scores the sum of its
    * words' scores; top-k phrases corpus-wide. Per-word scores are
    * floored onto an integer 1e-6 grid (exact long division), so the
    * phrase sum and the ranking are pure integer arithmetic — no float
    * enters the result at all.
    *
    * Scale shape: run detection is DOC-LOCAL by definition — like
    * winnowing it runs as a per-doc mapPartitions kernel (tokenize,
    * scan for stopword-delimited runs, emit ONE phrase string per
    * qualifying run occurrence), replacing the earlier declarative
    * posexplode + per-doc window + pinned-wide string aggregate + self
    * join, which paid a corpus-sized token shuffle, a Window sort, and
    * a (doc, grp) re-shuffle per rep and was the suite's worst load
    * amplifier (r8 driver: 9.7s median loaded vs 0.99s quiesced).
    * After the kernel, ONE corpus-proportional map-side-combined count
    * on the phrase string collapses everything to the phrase
    * dictionary — and since words never contain the separator, the
    * phrase string round-trips to its exact word multiset, so word
    * scores derive entirely from that dictionary (for word w with
    * per-phrase multiplicity m in a phrase of length L occurring n
    * times: freq += n*m, degree += n*m*L — the identical sums the
    * member-join formulation computed row by row). No second corpus
    * pass and no join back to corpus data exist at all.
    */
  def keyPhrases(
      docs: DataFrame,
      stopwords: Seq[String] = Seq("a", "the"),
      maxLen: Int = 4,
      k: Int = 25): DataFrame = {
    require(stopwords.nonEmpty, "need a stopword set to delimit phrases")
    require(maxLen >= 2, s"maxLen=$maxLen must be >= 2")
    val spark = docs.sparkSession
    import spark.implicits._
    val stopSet = stopwords.toSet
    val maxL = maxLen
    // spread: the scan kernel is CPU-bound (see Tables.spread)
    val perRun = graft.Tables.spread(docs.select(col("text")))
      .as[String]
      .mapPartitions { texts =>
        texts.flatMap { text =>
          // split(" ", -1): same token stream as Spark split/DuckDB
          // string_split — empty tokens are non-stopwords, hence words
          val toks = text.split(" ", -1)
          val out = List.newBuilder[String]
          var i = 0
          while (i < toks.length) {
            if (stopSet(toks(i))) i += 1
            else {
              val start = i
              while (i < toks.length && !stopSet(toks(i))) i += 1
              val len = i - start
              if (len >= 2 && len <= maxL) {
                val sb = new java.lang.StringBuilder
                var j = start
                while (j < i) {
                  if (j > start) sb.append(' ')
                  sb.append(toks(j))
                  j += 1
                }
                out += sb.toString
              }
            }
          }
          out.result()
        }
      }.toDF("phrase")
    // The ONLY corpus-proportional exchange: a partial-aggregated count
    // keyed on the phrase dictionary.
    val p = perRun.groupBy(col("phrase"))
      .agg(count(lit(1)).cast("long").as("n_occ"))
    // Dictionary-side re-expansion: split the DISTINCT phrase strings
    // back into their word multisets (exact round-trip — words cannot
    // contain the separator). persist: both consumers below re-read
    // this dictionary-sized frame, and without it each would replay
    // the corpus count (lifetime: see priceIndexLaspeyres — the
    // harness drops it per query).
    val e = p
      .select(col("phrase"), col("n_occ"),
        explode(split(col("phrase"), " ", -1)).as("w"))
      .groupBy(col("phrase"), col("w"))
      .agg(first(col("n_occ")).as("n_occ"),
        count(lit(1)).cast("long").as("mult"))
      .withColumn("len",
        (size(split(col("phrase"), " ", -1))).cast("long"))
      .persist()
    // degree/frequency per word, exactly as the member formulation:
    // every occurrence of every containing phrase contributes len (to
    // degree) and 1 (to freq) per token position of w in it
    val wordScore = e.groupBy(col("w"))
      .agg(expr("(sum(n_occ * mult * len) * 1000000L) div sum(n_occ * mult)")
        .cast("long").as("score6"))
    e.join(broadcast(wordScore), Seq("w"))
      .groupBy(col("phrase"))
      // every occurrence of a phrase has the same word multiset, so the
      // oracle's max-over-occurrences is the single common value
      .agg(max(col("n_occ")).cast("long").as("n_occurrences"),
        sum(col("mult") * col("score6")).cast("long").as("score6"))
      .orderBy(col("score6").desc, col("phrase"))
      .limit(k)
  }

  /** Byte-pair-encoding merge trainer (Sennrich et al. 2016, the
    * subword-tokenizer construction): starting from characters, the k
    * most frequent ADJACENT symbol pairs merge greedily, each merge
    * recorded as one vocabulary rule — the exact algorithm behind
    * GPT/Llama-style tokenizers, run on the corpus word-frequency
    * table. Ties break lexicographically on the pair so the merge
    * sequence is a deterministic function of the corpus.
    *
    * Scale split: the DISTRIBUTED part is the word-frequency aggregate
    * (the only corpus-proportional pass — shuffle carries (word, count)
    * partials); the merge loop then runs on the driver over the
    * distinct-word table, which is VOCABULARY-bounded (Heaps' law:
    * ~1e5-1e6 types even for TB-scale corpora) and enforced by the hard
    * `maxVocab` gate. This is also how production tokenizer trainers
    * (SentencePiece, HF tokenizers) structure it: distributed count,
    * local merge loop. The greedy sequential state is nevertheless
    * SQL-replayable round by round — [[bpeOracleSql]] unrolls the merge
    * loop as a bounded CTE chain — so the operator is oracle-gated in
    * addition to the constructed-corpus spec.
    */
  def bpeMerges(
      docs: DataFrame,
      merges: Int = 8,
      maxVocab: Long = 200000L,
      textCol: String = "text"): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    require(merges >= 1, s"merges=$merges")
    val wordFreq = graft.Tables.spread(docs)
      .select(explode(tokens(col(textCol))).as("w"))
      .filter(length(col("w")) > 0)
      .groupBy(col("w")).agg(count(lit(1)).cast("long").as("f"))
    // Probe-gated collect (same pattern as Graph.probeCollect): pull at
    // most maxVocab+1 rows, so a corpus whose vocabulary blows the cap
    // fails the require BEFORE the driver materializes the full word
    // list, not after (or instead of) an OOM.
    val capPlus1 = (math.min(maxVocab, Int.MaxValue - 1L) + 1L).toInt
    val vocab = wordFreq.limit(capPlus1).collect()
      .map(r => (r.getString(0), r.getLong(1)))
    require(vocab.length <= maxVocab,
      s"bpeMerges: more than maxVocab=$maxVocab word types in the corpus")
    var words: Array[(Array[String], Long)] =
      vocab.map { case (w, f) => (w.toCharArray.map(_.toString), f) }
    val out = scala.collection.mutable.ArrayBuffer.empty[(Int, String, String, Long)]
    var r = 1
    var done = false
    while (r <= merges && !done) {
      val counts = scala.collection.mutable.HashMap.empty[(String, String), Long]
      words.foreach { case (syms, f) =>
        var i = 0
        while (i < syms.length - 1) {
          val k = (syms(i), syms(i + 1))
          counts.update(k, counts.getOrElse(k, 0L) + f)
          i += 1
        }
      }
      if (counts.isEmpty) done = true
      else {
        val ((l, rt), cnt) = counts.minBy { case ((a, b), c) => (-c, a, b) }
        out += ((r, l, rt, cnt))
        val merged = l + rt
        words = words.map { case (syms, f) =>
          val buf = scala.collection.mutable.ArrayBuffer.empty[String]
          var i = 0
          while (i < syms.length) {
            if (i < syms.length - 1 && syms(i) == l && syms(i + 1) == rt) {
              buf += merged; i += 2
            } else { buf += syms(i); i += 1 }
          }
          (buf.toArray, f)
        }
        r += 1
      }
    }
    out.toSeq.toDF("merge_rank", "left", "right", "pair_freq")
      .orderBy(col("merge_rank"))
  }

  /** DuckDB SQL replay of [[bpeMerges]]: the merge loop unrolled as a
    * bounded CTE chain (one `s/p/b/r` quadruple per round). Each word
    * type is carried as a delimiter-wrapped symbol string
    * (`<h><e><l><l><o>`); applying merge (l, r) is then ONE
    * `replace(repr, '<l><r>', '<lr>')` — SQL `replace` substitutes
    * non-overlapping occurrences left-to-right, which is EXACTLY the
    * greedy scan the Scala merge loop performs (back-to-back
    * occurrences don't share characters because each symbol carries its
    * own delimiters, and for self-pairs like (a,a) on `aaa` both sides
    * merge the first two and leave the third). Tie-break `ORDER BY c
    * DESC, l, r` under DuckDB's binary collation equals the Scala
    * `minBy (-c, a, b)` string ordering on this ASCII corpus. Safe
    * because the fixture text contains no `<`/`>` (asserted by the
    * round's oracle run itself: any collision would break the hash
    * match).
    */
  def bpeOracleSql(merges: Int = 8, table: String = "documents"): String = {
    val sb = new StringBuilder
    sb ++= raw"""WITH r0 AS (
  SELECT regexp_replace(w, '(.)', '<\1>', 'g') AS repr, CAST(COUNT(*) AS BIGINT) AS f
  FROM (SELECT unnest(string_split(text, ' ')) AS w FROM $table)
  WHERE w <> '' GROUP BY 1
)"""
    for (i <- 1 to merges) {
      val p = i - 1
      sb ++= s""",
s$i AS (SELECT string_split(substr(repr, 2, length(repr) - 2), '><') AS syms, f FROM r$p),
p$i AS (
  SELECT syms[j] AS l, syms[j + 1] AS r, CAST(SUM(f) AS BIGINT) AS c
  FROM s$i, unnest(range(1, len(syms))) t(j)
  GROUP BY 1, 2
),
b$i AS (SELECT l, r, c FROM p$i ORDER BY c DESC, l, r LIMIT 1),
r$i AS (
  SELECT replace(repr, '<' || b$i.l || '><' || b$i.r || '>',
                 '<' || b$i.l || b$i.r || '>') AS repr, f
  FROM r$p, b$i
)"""
    }
    sb ++= (1 to merges).map(i =>
      s"""SELECT CAST($i AS INTEGER) AS merge_rank, l AS "left", r AS "right", c AS pair_freq FROM b$i""")
      .mkString("\n", "\nUNION ALL\n", "\nORDER BY merge_rank")
    sb.toString
  }

  /** Automated Readability Index per document (Senter & Smith 1967):
    * ARI = 4.71·(chars/words) + 0.5·(words/sentences) − 21.43, using
    * non-space characters, whitespace words, and [.!?] sentence marks
    * (floored at 1 so unpunctuated corpora — like machine-generated
    * text — still score on word length alone). A curation signal in the
    * same family as the quality gate: extreme ARI flags boilerplate
    * (short fragments) or run-on machine text. Pure per-row length
    * arithmetic — three codegen'd counts, exact integers into two IEEE
    * divisions, trunc4 at output; fuses into the scan, no shuffle.
    */
  def readability(docs: DataFrame): DataFrame = {
    import graft.ext.Num.trunc4
    val text = col("text")
    val words = size(tokens(text)).cast("long")
    val chars = length(regexp_replace(text, " ", "")).cast("long")
    val sentences = greatest(lit(1L),
      (length(text) - length(regexp_replace(text, "[.!?]", ""))).cast("long"))
    docs.select(col("doc_id"),
      words.as("n_words"), chars.as("n_chars_ns"), sentences.as("n_sentences"))
      .withColumn("ari4", trunc4(
        lit(4.71) * col("n_chars_ns").cast("double") / col("n_words").cast("double") +
          lit(0.5) * col("n_words").cast("double") / col("n_sentences").cast("double") -
          lit(21.43)))
      .orderBy(col("doc_id"))
  }
}
