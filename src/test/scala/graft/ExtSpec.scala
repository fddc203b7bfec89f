package graft

import org.apache.spark.sql.functions._
import graft.ext._

/** Tests for the north-star extensions on the sf0.001 fixtures. */
class ExtSpec extends SparkSpec {

  test("pricing summary groups and sums exactly") {
    val r = Aggregates.pricingSummary(t("lineitem")).collect()
    assert(r.nonEmpty && r.length <= 6) // |returnflag| x |linestatus|
    val total = r.map(_.getAs[Long]("count_order")).sum
    assert(total === t("lineitem").count())
  }

  test("revenue by nation covers all nations with customers") {
    val r = Aggregates.revenueByNation(t("orders"), t("customer"), t("nation"))
    assert(r.count() > 0)
    assert(r.select(sum("n_orders")).head().getLong(0) === t("orders").count())
  }

  test("top customers returns k ordered rows") {
    val r = Aggregates.topCustomers(t("orders"), t("customer"), 5).collect()
    assert(r.length === 5)
    val spends = r.map(_.getAs[Double]("total_spend"))
    assert(spends.sameElements(spends.sorted.reverse))
  }

  test("window top order: one row per customer, is the max") {
    val r = Aggregates.largestOrderPerCustomer(t("orders"))
    val perCust = r.groupBy("o_custkey").count().filter(col("count") > 1).count()
    assert(perCust === 0)
  }

  test("events hourly counts sum to total events") {
    val r = Events.hourlyByType(t("events"))
    assert(r.select(sum("n")).head().getLong(0) === t("events").count())
  }

  test("events sessions: sessions <= events per user") {
    val r = Events.sessionCounts(t("events"))
    assert(r.filter(col("n_sessions") > col("n_events")).count() === 0)
    assert(r.filter(col("n_sessions") < 1).count() === 0)
  }

  test("props json extraction parses every row") {
    val r = Events.propsKStats(t("events"))
    val total = r.select(sum("n_k")).head().getLong(0)
    assert(total === t("events").count())
  }

  test("token count matches text structure") {
    val r = TextOps.tokenCount(t("documents"))
    // single-space separated fixture: n_tokens = spaces + 1
    val bad = r.join(t("documents"), "doc_id")
      .filter(col("n_tokens") =!= size(split(col("text"), " ")))
      .count()
    assert(bad === 0)
  }

  test("langId predicts a language for every doc") {
    val r = TextOps.langId(t("documents"))
    assert(r.filter(col("lang_pred").isNull).count() === 0)
  }

  test("langId: null text classifies as unknown, not a language") {
    import spark.implicits._
    // null hits make every CASE comparison null; without the explicit
    // guard the fall-through branch would have claimed "fr"
    val df = Seq((1L, Option("the cat sat on the mat"), "en"),
      (2L, None: Option[String], "en")).toDF("doc_id", "text", "lang")
    val preds = TextOps.langId(df).collect().map(r => r.getLong(0) -> r.getString(6)).toMap
    assert(preds(1L) === "en")
    assert(preds(2L) === "unknown")
  }

  test("quality score in [0,1]") {
    val r = TextOps.qualityScore(t("documents"))
    assert(r.filter(col("quality") < 0 || col("quality") > 1).count() === 0)
  }

  test("fingerprint is deterministic and interior-whitespace-insensitive") {
    val docs = t("documents")
    val fp1 = TextOps.fingerprint(docs).collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    // widen every interior single space to a double space + change case:
    // normalization (lower + \s+ collapse) must yield identical hashes
    val mangled = docs.withColumn("text", upper(regexp_replace(col("text"), " ", "  ")))
    val fp2 = TextOps.fingerprint(mangled).collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(fp1 === fp2)
    // but a real content change must alter the hash
    val changed = docs.withColumn("text", concat(col("text"), lit(" extra")))
    val fp3 = TextOps.fingerprint(changed).collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(fp1.keys.forall(k => fp1(k) != fp3(k)))
  }

  test("exact dedup groups: one group per distinct text") {
    val r = Dedup.exactDedup(t("documents"))
    assert(r.count() === t("documents").select("text").distinct().count())
  }

  test("shingles: correct count for a known sentence") {
    import spark.implicits._
    val df = Seq((1L, "a b c d e")).toDF("doc_id", "text")
    val sh = Dedup.shingles(df, 3).collect().map(_.getString(1)).sorted
    assert(sh.sameElements(Array("a b c", "b c d", "c d e")))
    val short = Seq((2L, "a b")).toDF("doc_id", "text")
    assert(Dedup.shingles(short, 3).count() === 0)
  }

  test("posting-list pruning leaves the jaccard pair set unchanged") {
    val sh = Dedup.shingleHashes(t("documents"), 3)
    def pairs(prune: Boolean) =
      Dedup.pairJaccard(sh, 0.3, pruneSingletons = prune)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    assert(pairs(prune = true) === pairs(prune = false))
  }

  test("document-frequency cap preserves the pair set when above the corpus df") {
    val sh = Dedup.shingleHashes(t("documents"), 3)
    val unCapped = Dedup.pairJaccard(sh, 0.3)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    // cap above every real df: identical output (the safe production cap)
    val capped = Dedup.pairJaccard(sh, 0.3, maxDocFreq = Some(1000L))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    assert(capped === unCapped)
    // cap=1 drops every shared shingle -> no intersections survive
    assert(Dedup.pairJaccard(sh, 0.3, maxDocFreq = Some(1L)).count() === 0)
  }

  test("containment df cap bounds the hot-shingle pair fan-out") {
    import spark.implicits._
    // One boilerplate 3-gram shared by ALL docs: uncapped it alone
    // expands to C(d,2) candidate pairs — the skew shape that melts a
    // reducer at corpus scale. The df cap drops its posting list.
    val d = 40
    val docs = (0 until d).map(i =>
      (i.toLong, s"common boiler plate w${i}a w${i}b w${i}c")).toDF("doc_id", "text")
    val sh = Dedup.shingleHashes(docs, 3).localCheckpoint(true)
    assert(Dedup.containmentFromShingles(sh, 0.0).count() === d.toLong * (d - 1) / 2)
    assert(Dedup.containmentFromShingles(sh, 0.0, maxDocFreq = Some(5L)).count() === 0)
    // on the real fixture: cap above every df + singleton pruning is exact
    val shDocs = Dedup.shingleHashes(t("documents"), 3)
    def conts(prune: Boolean, cap: Option[Long]) =
      Dedup.containmentFromShingles(shDocs, 0.5, prune, cap)
        .collect().map(_.toSeq).toSet
    val full = conts(prune = false, cap = None)
    assert(full.nonEmpty)
    assert(conts(prune = true, cap = Some(1000L)) === full)
  }

  test("jaccard pairs survive pinWide=false on a scattered index (co-partition contract)") {
    // The posting-list run-grouping kernel is only correct when the
    // exchange before sortWithinPartitions is UNCONDITIONAL: scatter the
    // index by doc so every shingle's rows start split across partitions,
    // then drop the pin conf — a conditional exchange (the r9 pinWide
    // fall-through) would silently undercount intersections here.
    val sh = Dedup.shingleHashes(t("documents"), 3)
      .repartition(8, col("doc_id"))
      .localCheckpoint(true) // freeze the scatter so both runs see it
    def pairs() = Dedup.pairJaccard(sh, 0.3)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    val expected = pairs() // pin on (default)
    spark.conf.set("spark.graft.pinWide", "false")
    try assert(pairs() === expected)
    finally spark.conf.unset("spark.graft.pinWide")
  }

  test("blocked kNN sweep survives pinWide=false on scattered vectors (co-partition contract)") {
    // Same contract for the block-pair sweep: a block-pair key split
    // across partitions means two blocks never meet and their candidate
    // pairs silently vanish. Scatter the vectors, drop the pin, compare.
    val emb = t("embeddings").repartition(8, col("vec_id"))
      .localCheckpoint(true)
    def deg() = Similarity.mutualKnnDegrees(emb, 5)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val expected = deg() // pin on (default)
    spark.conf.set("spark.graft.pinWide", "false")
    try assert(deg() === expected)
    finally spark.conf.unset("spark.graft.pinWide")
  }

  test("minhash LSH finds the same high-jaccard pairs as exact search") {
    val docs = t("documents", "sf0.01")
    val exact = Dedup.ngramJaccardPairs(docs, 3, 0.9)
      .select("doc_a", "doc_b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val lsh = Dedup.minhashDedup(docs, 3, 64, 4, 0.9)
      .select("doc_a", "doc_b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(exact.nonEmpty, "fixture should contain near-dup pairs")
    assert(lsh === exact)
  }

  test("graft_simhash64 expression matches the mapPartitions kernel bit-for-bit (incl. split edge cases)") {
    import spark.implicits._
    val edges = Seq(
      (1000001L, ""), (1000002L, " "), (1000003L, "a  b"),
      (1000004L, "a b "), (1000005L, " a"), (1000006L, "   ")).toDF("doc_id", "text")
    val docs = t("documents").select(col("doc_id"), col("text")).unionByName(edges)
    val viaExpr = Dedup.simhash64(docs).collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val viaKernel = Dedup.simhash64Kernel(docs).collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(viaExpr === viaKernel)
  }

  test("text kernel expressions compile under CODEGEN_ONLY and match hand counts") {
    graft.ext.expr.Simhash64Expr.ensureRegistered(spark)
    graft.ext.expr.WordSetHits.ensureRegistered(spark)
    spark.conf.set("spark.sql.codegen.fallback", "false")
    spark.conf.set("spark.sql.codegen.factoryMode", "CODEGEN_ONLY")
    try {
      // non-literal input so the optimizer cannot constant-fold the
      // expressions away before codegen
      val r = spark.range(1)
        .selectExpr("concat('the cat and the hat', repeat(' x', cast(id as int))) s")
        .selectExpr(
          "graft_word_hits(s, array('the','and'), array('cat')) w",
          "graft_simhash64(s) h")
        .head()
      assert(r.getSeq[Long](0) === Seq(3L, 1L))
      assert(r.getLong(1) === graft.ext.expr.TextKernels.simhash64(
        org.apache.spark.unsafe.types.UTF8String.fromString("the cat and the hat")))
      // nullable input path compiles and yields null
      val n = spark.range(1)
        .selectExpr("CASE WHEN id = 1 THEN 'x' END s")
        .selectExpr("graft_simhash64(s) h", "graft_word_hits(s, array('a')) w")
        .head()
      assert(n.isNullAt(0) && n.isNullAt(1))
    } finally {
      spark.conf.set("spark.sql.codegen.fallback", "true")
      spark.conf.unset("spark.sql.codegen.factoryMode")
    }
  }

  test("graft_simhash16 expression matches the explode+md5 SQL formulation exactly") {
    val docs = t("documents")
    val viaExpr = Dedup.simhash16(docs).collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    val viaSql = Dedup.simhash16Expanded(docs).collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(viaExpr === viaSql)
    // codegen path compiles (no silent interpreted fallback)
    graft.ext.expr.Simhash16Expr.ensureRegistered(spark)
    spark.conf.set("spark.sql.codegen.fallback", "false")
    spark.conf.set("spark.sql.codegen.factoryMode", "CODEGEN_ONLY")
    try {
      val r = spark.range(1).selectExpr("graft_simhash16(concat('a b', repeat(' c', cast(id as int)))) s").head()
      assert(r.getString(0).length === 16 && r.getString(0).forall(c => c == '0' || c == '1'))
    } finally {
      spark.conf.set("spark.sql.codegen.fallback", "true")
      spark.conf.unset("spark.sql.codegen.factoryMode")
    }
  }

  test("expression rewrites keep the text plans map-side and columnar") {
    // simhash16: no token explode (Generate), no aggregate — the only
    // allowed Exchange is the final presentation sort
    val p16 = Dedup.simhash16(t("documents")).queryExecution.executedPlan.toString
    assert(!p16.contains("Generate") && !p16.contains("HashAggregate"),
      s"simhash16 should be a fused map, plan:\n${p16.take(800)}")
    // langId / simhash64: expression path must not deserialize rows to
    // JVM objects the way the mapPartitions kernels did
    val pLang = TextOps.langId(t("documents")).queryExecution.executedPlan.toString
    assert(!pLang.contains("DeserializeToObject") && !pLang.contains("MapPartitions"),
      s"langId should stay columnar, plan:\n${pLang.take(800)}")
    val p64 = Dedup.simhash64(t("documents")).queryExecution.executedPlan.toString
    assert(!p64.contains("DeserializeToObject") && !p64.contains("MapPartitions"),
      s"simhash64 should stay columnar, plan:\n${p64.take(800)}")
  }

  test("KernelRewriteRule: HOF stopword count rewrites to graft_word_hits, same results") {
    import spark.implicits._
    val words = Seq("the", "a", "of", "and", "to", "in", "is")
    val hof = t("documents").select(col("doc_id"),
      size(filter(split(col("text"), " "), w => w.isInCollection(words))).as("n"))
    // the optimizer (injected via GraftExtensions) must swap the
    // interpreted lambda for the compiled kernel
    val optimized = hof.queryExecution.optimizedPlan.toString
    assert(optimized.contains("graft_word_hits"),
      s"rewrite did not fire:\n${optimized.take(600)}")
    assert(!optimized.contains("array_filter") && !optimized.contains("ArrayFilter"),
      s"HOF survived the rewrite:\n${optimized.take(600)}")
    // counts match a direct per-row reference computation
    val got = hof.collect().map(r => r.getLong(0) -> r.getInt(1)).toMap
    val ref = t("documents").select(col("doc_id"), col("text")).as[(Long, String)]
      .collect().map { case (id, tx) =>
        id -> tx.split(" ", -1).count(words.contains(_))
      }.toMap
    assert(got === ref)
    // this session runs ANSI off => size() has LEGACY null semantics
    // (null array -> -1); the rewrite must preserve that exactly
    val withNull = Seq((1L, "the cat"), (2L, null.asInstanceOf[String])).toDF("doc_id", "text")
    val r = withNull.select(col("doc_id"),
      size(filter(split(col("text"), " "), w => w.isInCollection(words))).as("n"))
      .collect().map(x => x.getLong(0) -> x.getInt(1)).toMap
    assert(r === Map(1L -> 1, 2L -> -1))
    // guard: a word set containing "" must NOT rewrite — split keeps
    // trailing empty tokens where the kernel's String.split drops them,
    // so the two formulations disagree on text with trailing spaces
    val withEmpty = Seq((1L, "the cat ")).toDF("doc_id", "text")
      .select(col("doc_id"),
        size(filter(split(col("text"), " "), w => w.isInCollection(Seq("the", "")))).as("n"))
    assert(!withEmpty.queryExecution.optimizedPlan.toString.contains("graft_word_hits"),
      "rewrite fired despite an empty-string constant word")
    assert(withEmpty.collect().head.getInt(1) === 2) // "the" + the trailing ""
  }

  test("clusterPairs: components labelled by min id, transitivity respected") {
    import spark.implicits._
    // components: {1,2,3} via 1-2, 2-3 (transitive); {10,11}; 20 untouched
    val pairs = Seq((1L, 2L), (2L, 3L), (10L, 11L)).toDF("doc_a", "doc_b")
    val c = Dedup.clusterPairs(pairs).collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(c === Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 10L -> 10L, 11L -> 10L))
    // long chain exercises multi-round propagation
    val chain = (0L until 12L).sliding(2).map(s => (s(0), s(1))).toSeq.toDF("doc_a", "doc_b")
    val cc = Dedup.clusterPairs(chain).collect().map(r => r.getLong(1)).distinct
    assert(cc.toSeq === Seq(0L))
    // non-convergence within maxIter must FAIL, not return wrong labels
    intercept[IllegalArgumentException] {
      Dedup.clusterPairs(chain, maxIter = 3).collect()
    }
  }

  test("clusterPairsStar: same labels as propagation; 1000-node chain in O(log n) rounds") {
    import spark.implicits._
    val pairs = Seq((1L, 2L), (2L, 3L), (10L, 11L)).toDF("doc_a", "doc_b")
    val c = Dedup.clusterPairsStar(pairs).collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(c === Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 10L -> 10L, 11L -> 10L))
    // adversarial topology for label propagation: a 1000-node path graph
    // (diameter 999 — propagation would need 999 rounds / 999 shuffles;
    // star contraction folds it in O(log n) alternating rounds)
    // driverEdgeMax = 0 forces the DISTRIBUTED contraction (the chain is
    // under the adaptive driver-side threshold otherwise)
    val chain = (0L until 1000L).sliding(2).map(s => (s(0), s(1))).toSeq.toDF("doc_a", "doc_b")
    val labels = Dedup.clusterPairsStar(chain, maxIter = 30, driverEdgeMax = 0L).collect()
    assert(labels.length === 1000)
    assert(labels.map(_.getLong(1)).distinct.toSeq === Seq(0L))
    // random multi-component graph: driver union-find, distributed star,
    // and propagation must all agree
    val rnd = new scala.util.Random(7)
    val randomPairs = Seq.fill(60)((rnd.nextInt(40).toLong, rnd.nextInt(40).toLong))
      .filter(p => p._1 != p._2).toDF("doc_a", "doc_b")
    val viaDriver = Dedup.clusterPairsStar(randomPairs).collect().map(_.toString).toSeq
    val viaStar = Dedup.clusterPairsStar(randomPairs, driverEdgeMax = 0L)
      .collect().map(_.toString).toSeq
    val viaProp = Dedup.clusterPairs(randomPairs).collect().map(_.toString).toSeq
    assert(viaDriver === viaStar)
    assert(viaStar === viaProp)
  }

  test("editDistancePairs: threshold + prefix-block contract") {
    import spark.implicits._
    val docs = Seq(
      (1L, "alpha beta gamma delta"),
      (2L, "alpha beta gamma delts"),   // dist 1 to doc 1
      (3L, "alpha bete gamme delte"),   // dist 3 to doc 1, 3 to doc 2 (substitutions)
      (4L, "alpha completely different words here"), // same block, dist > 5
      (5L, "omega beta gamma delta"))   // different first token: blocked out
      .toDF("doc_id", "text")
    val pairs = Dedup.editDistancePairs(docs, titleTokens = 6, maxDist = 5)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    assert(pairs.toSeq === Seq((1L, 2L, 1L), (1L, 3L, 3L), (2L, 3L, 3L)))
  }

  test("editDistancePairs: length-band block key is lossless and splits a hot first token") {
    import spark.implicits._
    // 50% of titles share first token "the" (the skew case the compound
    // block key exists for), with title lengths spanning several
    // maxDist+1=6-char bands — including a qualifying pair that
    // straddles ADJACENT bands (len 23 -> band 3, len 25 -> band 4),
    // the case a naive same-band-only join would silently drop.
    val docs = Seq(
      (1L, "the quick brown fox jum"),            // len 23, band 3
      (2L, "the quick brown fox jumpe"),          // len 25, band 4; dist 2 to doc 1
      (3L, "the quick brown fox jumped over it"), // title = first 6 tokens
      (4L, "the cat"),                            // len 7, band 1: far from all
      (5L, "the extraordinarily long opening title here indeed"),
      (6L, "the extraordinarily long opening title there"),
      (7L, "a quick brown fox jum"),              // different first token
      (8L, "a quick brown fox jumpe"),
      (9L, "omega singleton"),
      (10L, "the quick brown fox jumpq"),         // dist 1 to doc 2
      (11L, "zeta row"),
      (12L, "the quick brown fox")                // len 19, band 3
    ).toDF("doc_id", "text")
    val got = Dedup.editDistancePairs(docs, titleTokens = 6, maxDist = 5)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq
    // brute-force reference: the declared contract (same first token,
    // levenshtein <= maxDist) with NO banding — the band must be unobservable
    val titles = docs.select(col("doc_id"),
        substring_index(col("text"), " ", 6).as("title"),
        substring_index(substring_index(col("text"), " ", 6), " ", 1).as("tok1"))
    val a = titles.select(col("tok1"), col("doc_id").as("doc_a"), col("title").as("ta"))
    val b = titles.select(col("tok1"), col("doc_id").as("doc_b"), col("title").as("tb"))
    val expected = a.join(b, "tok1").filter(col("doc_a") < col("doc_b"))
      .withColumn("edit_dist", levenshtein(col("ta"), col("tb")).cast("bigint"))
      .filter(col("edit_dist") <= 5)
      .select(col("doc_a"), col("doc_b"), col("edit_dist"))
      .orderBy(col("doc_a"), col("doc_b"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq
    assert(got === expected)
    // the cross-band pair specifically survived
    assert(got.contains((1L, 2L, 2L)))
    // and the hot "the" block really is split: its titles span >= 3
    // distinct length bands, so no single reduce task owns the token
    val theBands = titles.filter(col("tok1") === "the")
      .select(floor(char_length(col("title")) / 6).cast("int").as("band"))
      .distinct().count()
    assert(theBands >= 3, s"expected the skewed first token to span >=3 bands, got $theBands")
  }

  test("bpe merges: maxVocab gate fires without collecting the corpus") {
    import spark.implicits._
    val docs = Seq((1L, "aa bb cc dd ee")).toDF("doc_id", "text")
    val e = intercept[IllegalArgumentException] {
      TextOps.bpeMerges(docs, merges = 1, maxVocab = 2L)
    }
    assert(e.getMessage.contains("maxVocab"))
  }

  test("substringDup: counts exactly the windows shared with EARLIER docs") {
    import spark.implicits._
    // a 35-token span has 35-30+1 = 6 distinct 30-token windows; doc 2
    // embeds the same span behind a different prefix, so exactly those 6
    // windows re-occur; doc 3 shares nothing
    val span = (1 to 35).map(i => s"w$i").mkString(" ")
    val df = Seq(
      (1L, span + " tail1 tail2"),
      (2L, "prefix " + span),
      (3L, Seq.fill(40)("zzz").zipWithIndex.map { case (w, i) => s"$w$i" }.mkString(" ")))
      .toDF("doc_id", "text")
    val r = Dedup.substringDup(df, n = 30).collect().map(x => (x.getLong(0), x.getLong(1)))
    assert(r.toSeq === Seq((2L, 6L)))
  }

  test("simhash: near-identical docs get near-identical fingerprints") {
    import spark.implicits._
    val df = Seq(
      (1L, "spark table join hash merge sort filter scan agg window"),
      (2L, "spark table join hash merge sort filter scan agg windows"), // 1 token differs
      (3L, "completely different words entirely unrelated content here now")).toDF("doc_id", "text")
    val fp = Dedup.simhash64(df).collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    def hamming(a: Long, b: Long) = java.lang.Long.bitCount(a ^ b)
    assert(hamming(fp(1L), fp(2L)) < hamming(fp(1L), fp(3L)))
  }

  test("graft_dot native expression: SQL-callable, matches HOF semantics") {
    import spark.implicits._
    // registered via spark.sql.extensions on this session
    assert(spark.sql("SELECT graft_dot(array(1.0d,2.0d), array(3.0d,4.0d)) v").head().getDouble(0) === 11.0)
    // null element -> null (zip_with/aggregate semantics)
    assert(spark.sql("SELECT graft_dot(array(1.0d, cast(null as double)), array(1.0d,1.0d)) v").head().isNullAt(0))
    // float arrays widen per-element; equals the built-in HOF composition on real data
    val emb = t("embeddings").select(col("embedding").as("a"), col("embedding").as("b"))
    val mismatch = emb.select(
      Similarity.dot(col("a"), col("b")).as("fast"),
      Similarity.dotHof(
        org.apache.spark.sql.functions.transform(col("a"), x => x.cast("double")),
        org.apache.spark.sql.functions.transform(col("b"), x => x.cast("double"))).as("slow"))
      .filter(col("fast") =!= col("slow")).count()
    assert(mismatch === 0)
    // graft_cosine: composed expression tree over the native dot
    val cos = spark.sql(
      "SELECT graft_cosine(array(1.0d,0.0d), array(0.0d,1.0d)) o, graft_cosine(array(2.0d,0.0d), array(1.0d,0.0d)) p").head()
    assert(cos.getDouble(0) === 0.0 && cos.getDouble(1) === 1.0)
    // lazy registration path for sessions without the extensions config
    graft.ext.expr.ArrayDotProduct.ensureRegistered(spark)
  }

  test("simhashNearDup: banded blocking finds the close pair, not the unrelated one") {
    import spark.implicits._
    // one differing token in 200: vote margins are ~sqrt(200) per bit, so
    // a single +-2 vote swing flips at most a few bits (hamming 1 under
    // the md5-high-64 kernel; asserted <= 3 to stay robust, not exact)
    val base = (1 to 200).map(i => s"tok$i").mkString(" ")
    val df = Seq(
      (1L, base),
      (2L, base.replace("tok200", "tok201")),  // one token differs -> tiny hamming
      (3L, (100 to 140).map(i => s"zzz$i").mkString(" "))).toDF("doc_id", "text")
    val pairs = Dedup.simhashNearDup(df, maxHamming = 3)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pairs.contains((1L, 2L)))
    assert(!pairs.exists(p => p._1 == 3L || p._2 == 3L))
  }

  test("graft_dot codegen compiles for NON-NULLABLE inputs (no silent interpreted fallback)") {
    graft.ext.expr.ArrayDotProduct.ensureRegistered(spark)
    // make any codegen compile failure fatal instead of a silent
    // fall-back-to-interpreter (the bug: assigning ev.isNull when
    // nullable=false references a non-existent variable)
    spark.conf.set("spark.sql.codegen.fallback", "false")
    spark.conf.set("spark.sql.codegen.factoryMode", "CODEGEN_ONLY")
    try {
      val r = spark.range(3)
        .selectExpr("graft_dot(array(cast(id as double), 2.0d), array(3.0d, 4.0d)) v")
        .collect().map(_.getDouble(0))
      assert(r.toSeq === Seq(8.0, 11.0, 14.0))
      // nullable path still compiles too
      val n = spark.range(1)
        .selectExpr("graft_dot(array(cast(id as double), cast(null as double)), array(1.0d, 1.0d)) v")
        .head()
      assert(n.isNullAt(0))
    } finally {
      spark.conf.set("spark.sql.codegen.fallback", "true")
      spark.conf.unset("spark.sql.codegen.factoryMode")
    }
  }

  test("mmrSelect: duplicate of the best hit is deferred for diversity") {
    import spark.implicits._
    // query along e1; vec 1 and 2 are identical near-e1 hits; vec 3 is
    // orthogonal to them. Plain top-2 = {1,2}; at lam=lamC=0.5 the
    // duplicate's full 1.0 penalty defers it behind both novel vectors.
    val emb = Seq(
      (0L, Array(1.0f, 0.0f, 0.0f)),
      (1L, Array(0.9f, 0.1f, 0.0f)),
      (2L, Array(0.9f, 0.1f, 0.0f)),
      (3L, Array(0.1f, -0.9f, 0.0f)),
      (4L, Array(0.0f, 0.0f, 1.0f)))
      .toDF("vec_id", "embedding")
    val r = Similarity.mmrSelect(emb, 0L, poolSize = 4, k = 3,
      lam = 0.5, lamC = 0.5).collect()
    assert(r.map(_.getAs[Int]("sel_rank")).toSeq === Seq(1, 2, 3))
    val ids = r.map(_.getAs[Long]("vec_id")).toSeq
    assert(ids.head === 1L)   // best cosine, tie broken by id
    assert(ids(1) === 3L)     // NOT the duplicate vec 2
    assert(ids(2) === 4L)     // then the remaining novel direction
  }

  test("brute-force cosine top-k is ordered and self-excluded") {
    val r = Similarity.bruteForceTopK(t("embeddings"), 0L, 10).collect()
    assert(r.length === 10)
    assert(!r.map(_.getLong(0)).contains(0L))
    val sims = r.map(_.getDouble(1))
    assert(sims.sameElements(sims.sorted.reverse))
    assert(sims.forall(s => s >= -1.0001 && s <= 1.0001))
  }

  test("ANN LSH recall: top-1 of exact search found in candidates") {
    val exact = Similarity.bruteForceTopK(t("embeddings"), 0L, 3).collect().map(_.getLong(0))
    // Fixture embeddings are near-random (best cosine ~0.5 => 60deg), so
    // per-table match prob is (1 - 60/180)^planes; 2 planes x 8 tables
    // gives ~99.99% recall while still exercising the bucket pruning.
    val ann = Similarity.annTopK(t("embeddings"), 0L, 10, numPlanes = 2, numTables = 8).collect().map(_.getLong(0))
    assert(ann.nonEmpty)
    assert(exact.take(1).intersect(ann).nonEmpty, s"exact top-1 ${exact.head} missing from ANN ${ann.mkString(",")}")
  }

  test("int8 quantization: values bounded, round-trip cosine recall holds") {
    val emb = t("embeddings")
    val q = Similarity.quantizeInt8(emb)
    import spark.implicits._
    // elements are genuinely 1-byte (tinyint) — the 4x-vs-float32 claim
    // holds in memory and on the shuffle wire, not only after encoding
    assert(q.schema("qvec").dataType.asInstanceOf[org.apache.spark.sql.types.ArrayType]
      .elementType === org.apache.spark.sql.types.ByteType,
      s"qvec should be array<tinyint>, got ${q.schema("qvec").dataType}")
    assert(q.filter(array_max(col("qvec")) > 127 || array_min(col("qvec")) < -127).count() === 0)
    // round-trip: top-3 neighbours of vec 0 survive quantization
    val deq = Similarity.dequantize(q)
      .select(col("vec_id"), col("embedding").cast("array<float>").as("embedding"))
    val exact = Similarity.bruteForceTopK(emb, 0L, 3).collect().map(_.getLong(0)).toSet
    val approx = Similarity.bruteForceTopK(deq, 0L, 5).collect().map(_.getLong(0)).toSet
    assert(exact.intersect(approx).size >= 2,
      s"quantization degraded ranking too far: exact=$exact approx=$approx")
  }

  test("materialized IVF index: partition-pruned probe, probe-all equals brute force") {
    val emb = t("embeddings")
    val tmp = java.nio.file.Files.createTempDirectory("graft-ivf").toString + "/idx"
    val centroids = Similarity.ivfBuildIndex(emb, tmp, numCentroids = 8)
    import spark.implicits._
    val q = emb.filter(col("vec_id") === 0L)
      .select(col("embedding").cast("array<double>")).as[Array[Double]].head()
    // probing ALL clusters degenerates to exact search
    val all = Similarity.ivfTopKIndexed(spark, tmp, centroids, q, 3, nProbe = 8,
      excludeVecId = Some(0L)).collect().map(_.getLong(0))
    val exact = Similarity.bruteForceTopK(emb, 0L, 3).collect().map(_.getLong(0))
    assert(all.toSeq === exact.toSeq)
    // pruned probe: the cluster filter is a PARTITION filter (pruned
    // before the scan), not a data filter
    val pruned = Similarity.ivfTopKIndexed(spark, tmp, centroids, q, 3, nProbe = 2)
    val plan = pruned.queryExecution.executedPlan.toString
    assert(plan.contains("PartitionFilters: [cluster"),
      s"cluster probe should prune partitions, plan:\n${plan.take(600)}")
    assert(pruned.collect().length === 3)
    // fresh-session probe: the quantizer persists WITH the index — loading
    // it back must reproduce the training-time centroids and probe results
    val loaded = Similarity.ivfLoadIndex(spark, tmp)
    assert(loaded.length === centroids.length)
    assert(loaded.zip(centroids).forall { case (a, b) => a.sameElements(b) },
      "persisted centroids differ from training-time centroids")
    val viaLoaded = Similarity.ivfTopKIndexed(spark, tmp, loaded, q, 3, nProbe = 8,
      excludeVecId = Some(0L)).collect().map(_.toString).toSeq
    val viaTrained = Similarity.ivfTopKIndexed(spark, tmp, centroids, q, 3, nProbe = 8,
      excludeVecId = Some(0L)).collect().map(_.toString).toSeq
    assert(viaLoaded === viaTrained)
  }

  test("IVF top-k: prunes to probed lists, high-recall settings find exact top-1") {
    val exact = Similarity.bruteForceTopK(t("embeddings"), 0L, 3).collect().map(_.getLong(0))
    // probe ALL lists -> IVF degenerates to exact search: same top ids
    val all = Similarity.ivfTopK(t("embeddings"), 0L, 3, numCentroids = 8, nProbe = 8).collect().map(_.getLong(0))
    assert(all.toSeq === exact.toSeq)
    // probe half the lists -> still returns k results (pruned candidate set)
    val pruned = Similarity.ivfTopK(t("embeddings"), 0L, 10, numCentroids = 8, nProbe = 4).collect()
    assert(pruned.length === 10)
  }

  test("multimodal: meta never decodes, features have fixed dim") {
    val m = Multimodal.binaryMeta(t("documents"))
    assert(m.filter(col("n_bytes") <= 0).count() === 0)
    val f = Multimodal.extractFeatures(t("documents"))
    import spark.implicits._
    val dims = f.select(size(col("features"))).distinct().as[Int].collect()
    assert(dims.sameElements(Array(16)))
    // digest projection: scalar columns only (driver-sortable), one row
    // per doc, deterministic across runs
    val d1 = Multimodal.featureDigest(t("documents"))
    assert(d1.schema.fields.forall(f => !f.dataType.typeName.startsWith("array")))
    assert(d1.count() === t("documents").count())
    val d2 = Multimodal.featureDigest(t("documents"))
    assert(d1.collect().map(_.toString).toSeq === d2.collect().map(_.toString).toSeq)
    assert(d1.filter(col("argmax_bin") < 1 || col("argmax_bin") > 16).count() === 0)
  }

  test("topCosinePairs: blocked distributed sweep is exact (block-count invariant, matches HOF cosine)") {
    val emb = t("embeddings")
    // exact reference: tiny-corpus all-pairs through the expression API
    val a = emb.select(col("vec_id").as("vec_a"), col("embedding").as("ea"))
    val b = emb.select(col("vec_id").as("vec_b"), col("embedding").as("eb"))
    val expected = a.join(b, col("vec_a") < col("vec_b"))
      .select(col("vec_a"), col("vec_b"),
        Num.trunc4(Similarity.cosine(col("ea"), col("eb"))).as("cos_sim"))
      .orderBy(col("cos_sim").desc, col("vec_a"), col("vec_b")).limit(15)
      .collect().map(_.toString).toSeq
    // block counts must not change the answer (1 block = single group)
    val b1 = Similarity.topCosinePairs(emb, 15, numBlocks = 1).collect().map(_.toString).toSeq
    val b4 = Similarity.topCosinePairs(emb, 15, numBlocks = 4).collect().map(_.toString).toSeq
    assert(b1 === expected)
    assert(b4 === expected)
  }

  test("knnJoin: per-query results equal one-at-a-time brute force") {
    val emb = t("embeddings")
    val queries = emb.filter(col("vec_id") < 3)
    val joined = Similarity.knnJoin(emb, queries, 5).collect()
      .groupBy(_.getLong(0)).view.mapValues(_.map(r => (r.getLong(1), r.getDouble(2))).toSeq).toMap
    assert(joined.keySet === Set(0L, 1L, 2L))
    for (qid <- 0L to 2L) {
      // brute force includes other query ids in its corpus; exclude them
      val bf = Similarity.bruteForceTopK(emb, qid, 8).collect()
        .map(r => (r.getLong(0), r.getDouble(1)))
        .filterNot { case (id, _) => id < 3 }.take(5).toSeq
      assert(joined(qid) === bf, s"query $qid")
    }
  }

  test("lshCosinePairs recall: finds planted near-duplicate embedding pairs") {
    // The fixture embeddings are near-random (best pair cos ~0.5 — no
    // planted near-dups), where sign-LSH recall is LOW by design; plant
    // real near-dups (each vector + a mildly perturbed copy, cos ~0.9996)
    // and check the LSH sweep recovers what the exact sweep ranks top.
    val base = t("embeddings").select(col("vec_id"), col("embedding"))
    val planted = base.select((col("vec_id") + 100000L).as("vec_id"),
      transform(col("embedding"),
        (x, i) => x * when(i % 7 === 0, lit(1.02f)).otherwise(lit(1.0f)))
        .cast("array<float>").as("embedding"))
    val corpus = base.unionByName(planted)
    val k = 20
    val exact = Similarity.topCosinePairs(corpus, k).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(exact.forall { case (a, b) => b == a + 100000L },
      s"exact top-$k should be planted pairs only, got $exact")
    val lsh = Similarity.lshCosinePairs(corpus, k).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val recall = exact.intersect(lsh).size.toDouble / exact.size
    assert(recall >= 0.9, s"LSH recall $recall too low; exact=$exact lsh=$lsh")
  }

  test("streaming durable parquet sink + checkpoint: output equals batch filter") {
    val dir = java.nio.file.Files.createTempDirectory("graft-stream-sink").toString
    val schema = Tables.read(spark, sf(), "events").schema
    val stream = Events.normalizeTs(
      spark.readStream.schema(schema).option("pathGlobFilter", "events.parquet").parquet(sf()))
    val q = stream.filter(col("event_type") === "purchase")
      .select(col("event_id"), col("user_id"))
      .writeStream.format("parquet")
      .option("path", s"$dir/out").option("checkpointLocation", s"$dir/ckpt")
      .outputMode("append").start()
    try q.processAllAvailable() finally q.stop()
    val back = spark.read.parquet(s"$dir/out")
    val batch = Events.normalizeTs(t("events")).filter(col("event_type") === "purchase")
      .select(col("event_id"), col("user_id"))
    assert(back.orderBy(col("event_id")).collect().toSeq ===
      batch.orderBy(col("event_id")).collect().toSeq)
    // exactly-once bookkeeping is on disk, not in memory
    assert(new java.io.File(s"$dir/ckpt").exists())
  }

  test("streaming hourly agg equals batch hourly agg") {
    val batch = Events.hourlyByType(t("events")).collect()
    val stream = graft.streaming.StreamingOps.hourlyByTypeStream(spark, sf()).collect()
    assert(stream.map(_.toString).toSeq === batch.map(_.toString).toSeq)
  }

  test("watermarked append stream emits exactly the watermark-passed prefix of batch") {
    val batch = Events.hourlyByType(t("events")).collect()
    val wm = graft.streaming.StreamingOps.hourlyByTypeStreamAppend(spark, sf()).collect()
    assert(wm.nonEmpty && wm.length < batch.length) // tail windows held back
    // every emitted row equals its batch counterpart, and emitted rows
    // are a prefix in event-time order
    val batchStr = batch.map(_.toString)
    assert(wm.map(_.toString).forall(batchStr.contains))
    val cutoff = wm.map(_.getLong(0)).max
    val expected = batch.filter(_.getLong(0) <= cutoff)
    assert(wm.map(_.toString).toSeq === expected.map(_.toString).toSeq)
  }

  test("session-window stream: emitted sessions subset batch sessions, counts consistent") {
    val streamed = graft.streaming.StreamingOps.sessionCountsStream(spark, sf()).collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap
    assert(streamed.nonEmpty)
    // batch gap-sessionization (strict >) upper-bounds the emitted
    // (watermark-closed, >= boundary) sessions per user
    val batch = Events.sessionCounts(t("events")).collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap
    streamed.foreach { case (u, (ns, ne)) =>
      val (bns, bne) = batch(u)
      assert(ns >= 1 && ne >= ns)
      assert(ne <= bne, s"user $u emitted more events than exist")
      assert(ns <= bns + 1, s"user $u session count out of range") // >= boundary can split one extra
    }
  }

  test("stream-static join enrichment equals the batch join+agg") {
    val streamed = graft.streaming.StreamingOps.enrichedSegmentStream(spark, sf()).collect()
    val dim = t("customer").select(col("c_custkey"), col("c_mktsegment"))
    val ev = t("events")
    val batch = ev.join(dim, ev("user_id") === dim("c_custkey"))
      .groupBy(col("c_mktsegment"))
      .agg(count(lit(1)).as("n"),
        sum(col("value").cast("decimal(18,4)")).cast("double").as("total_value"))
      .orderBy(col("c_mktsegment")).collect()
    assert(streamed.map(_.toString).toSeq === batch.map(_.toString).toSeq)
    assert(streamed.nonEmpty)
  }

  test("streaming stateful user counts match batch groupBy (counts AND exact money sums)") {
    val streamed = graft.streaming.StreamingOps.userEventCountsStream(spark, sf())
    val batch = t("events").groupBy("user_id")
      .agg(count(lit(1)).as("n_batch"),
        sum(col("value").cast("decimal(18,4)")).cast("double").as("v_batch"))
    val joined = streamed.join(batch, "user_id")
      .filter(col("n_events") =!= col("n_batch") || col("sum_value") =!= col("v_batch"))
    assert(joined.count() === 0)
  }

  test("streaming transitions equal the batch transition matrix") {
    val streamed = graft.streaming.StreamingOps.transitionsStream(spark, sf())
    val batch = Events.transitionMatrix(t("events"))
      .select(col("prev_type"), col("next_type"), col("n").as("n_batch"))
    val bad = streamed.join(batch, Seq("prev_type", "next_type"), "full_outer")
      .filter(col("n").isNull || col("n_batch").isNull || col("n") =!= col("n_batch"))
    assert(bad.count() === 0)
  }

  test("streaming transitions across 4 time-ordered micro-batches equal batch") {
    // chunk the fixture into 4 time-quartile files with increasing
    // mtimes, throttle to one file per trigger: transition pairs that
    // SPAN chunk boundaries only count if the carried last-event state
    // stitches them across micro-batches
    import org.apache.spark.sql.expressions.Window
    val dir = java.nio.file.Files.createTempDirectory("graft-transbatch").toString
    val in = s"$dir/in"; new java.io.File(in).mkdirs()
    val events = Events.normalizeTs(Tables.read(spark, sf(), "events"))
    val bucketed = events.withColumn("bkt",
      ntile(4).over(Window.orderBy(col("ts"), col("event_id"))))
    (1 to 4).foreach { i =>
      val stage = s"$dir/stage$i"
      bucketed.filter(col("bkt") === i).drop("bkt").coalesce(1).write.parquet(stage)
      val part = new java.io.File(stage).listFiles()
        .filter(_.getName.endsWith(".parquet")).head
      val dst = java.nio.file.Paths.get(in, f"chunk$i%02d.parquet")
      java.nio.file.Files.copy(part.toPath, dst)
      java.nio.file.Files.setLastModifiedTime(dst,
        java.nio.file.attribute.FileTime.fromMillis(1000000000L + i * 60000L))
    }
    val streamed = graft.streaming.StreamingOps.transitionsStream(
      spark, in, glob = "*.parquet", maxFilesPerTrigger = 1)
    val batch = Events.transitionMatrix(t("events"))
      .select(col("prev_type"), col("next_type"), col("n").as("n_batch"))
    val bad = streamed.join(batch, Seq("prev_type", "next_type"), "full_outer")
      .filter(col("n").isNull || col("n_batch").isNull || col("n") =!= col("n_batch"))
    assert(bad.count() === 0)
  }

  test("streaming: multi-micro-batch run (maxFilesPerTrigger=1) equals batch aggregate") {
    // the fixture is one file => every declared stream drains in a single
    // micro-batch; this test splits events into 4 files and throttles to
    // one file per trigger, so state genuinely accumulates ACROSS batches
    val dir = java.nio.file.Files.createTempDirectory("graft-multibatch").toString
    val events = Events.normalizeTs(Tables.read(spark, sf(), "events"))
    events.repartition(4).write.parquet(s"$dir/in")
    val stream = spark.readStream
      .schema(events.schema)
      .option("maxFilesPerTrigger", "1")
      .parquet(s"$dir/in")
    val agg = stream
      .groupBy(window(col("ts"), "1 hour").as("w"), col("event_type"))
      .agg(count(lit(1)).as("n"))
    val q = agg.writeStream.outputMode("complete").format("memory")
      .queryName("graft_multibatch").start()
    try q.processAllAvailable() finally q.stop()
    assert(q.recentProgress.count(_.numInputRows > 0) >= 4,
      s"expected >=4 non-empty micro-batches, got ${q.recentProgress.map(_.numInputRows).mkString(",")}")
    val streamed = spark.table("graft_multibatch")
      .select(unix_timestamp(col("w.start")).as("h"), col("event_type"), col("n"))
      .orderBy(col("h"), col("event_type")).collect().map(_.toString).toSeq
    val batch = events
      .groupBy(window(col("ts"), "1 hour").as("w"), col("event_type"))
      .agg(count(lit(1)).as("n"))
      .select(unix_timestamp(col("w.start")).as("h"), col("event_type"), col("n"))
      .orderBy(col("h"), col("event_type")).collect().map(_.toString).toSeq
    assert(streamed === batch)
  }

  test("curation: split assignment is complete, disjoint, reproducible, ~respects percentages") {
    val docs = t("documents")
    val s1 = Curation.splitAssign(docs, "doc_id")
    val total = docs.count()
    val bySplit = s1.groupBy(col("split")).count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(bySplit.values.sum === total)
    assert(bySplit("train") > bySplit.getOrElse("valid", 0L))
    assert(bySplit("train") > bySplit.getOrElse("test", 0L))
    // hash assignment: identical on re-run (no RNG state)
    val s2 = Curation.splitAssign(docs, "doc_id")
    assert(s1.select("doc_id", "split").except(s2.select("doc_id", "split")).count() === 0)
    // assignment of an existing row is append-stable BY CONSTRUCTION
    // (pure function of the key): a subset gets identical splits
    val sub = Curation.splitAssign(docs.filter(col("doc_id") < 100), "doc_id")
    assert(sub.select("doc_id", "split")
      .except(s1.select("doc_id", "split")).count() === 0)
    intercept[IllegalArgumentException] {
      Curation.splitAssign(docs, "doc_id", trainPct = 96, validPct = 5)
    }
  }

  test("curation: PII redaction removes emails/phones/IPs, leaves clean text") {
    import spark.implicits._
    val df = Seq(
      (1L, "reach me at jane.doe+spam@sub.example.co.uk thanks"),
      (2L, "call +44 (0)20-7946-0958 or 555-867-5309 now"),
      (3L, "server at 10.0.255.3 responded"),
      (4L, "no pii in this perfectly ordinary sentence")).toDF("doc_id", "text")
    val red = Curation.redactPii(df, "text").collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(red(1L) === "reach me at <EMAIL> thanks")
    assert(red(2L) === "call <PHONE> or <PHONE> now")
    assert(red(3L) === "server at <IP> responded")
    assert(red(4L) === "no pii in this perfectly ordinary sentence")
    // nothing PII-shaped survives on the fixture query's planted input
    val leftover = Curation.redactPii(df, "text")
      .filter(col("text").rlike(Curation.emailRe + "|" + Curation.ipv4Re))
    assert(leftover.count() === 0)
  }

  test("curation: repetition stats separate repetitive from diverse docs") {
    import spark.implicits._
    val df = Seq(
      (1L, "spam spam spam spam"),
      (2L, "four fresh distinct words"),
      (3L, "solo")).toDF("doc_id", "text")
    val r = Curation.repetitionStats(df).collect()
      .map(x => x.getLong(0) -> (x.getDouble(2), x.getDouble(3))).toMap
    assert(r(1L) === ((0.75, 0.6666))) // 1-1/4; bigrams: 3x "spam spam" -> 1-1/3
    assert(r(2L) === ((0.0, 0.0)))
    assert(r(3L) === ((0.0, 0.0))) // single token: no bigrams, guarded
    // kernel path == built-in array formulation on the real fixture, and
    // it must not fall out of the columnar stage
    val docs = t("documents")
    val viaKernel = Curation.repetitionStats(docs).collect().map(_.toString).toSeq
    val viaArrays = Curation.repetitionStatsExpanded(docs).collect().map(_.toString).toSeq
    assert(viaKernel === viaArrays)
    val plan = Curation.repetitionStats(docs).queryExecution.executedPlan.toString
    assert(!plan.contains("DeserializeToObject") && !plan.contains("MapPartitions"),
      s"repetitionStats should stay columnar, plan:\n${plan.take(800)}")
  }

  test("curation: tf-idf ranks document-specific terms above corpus-wide ones") {
    import spark.implicits._
    val df = Seq(
      (1L, "shared shared alpha"),
      (2L, "shared shared beta"),
      (3L, "shared shared gamma")).toDF("doc_id", "text")
    // "shared" has tf=2 but df=3 (score 0.66); the unique term tf=1 df=1
    // (score 1.0) must outrank it
    val top1 = Curation.tfIdfTop(df, k = 1).collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(top1 === Map(1L -> "alpha", 2L -> "beta", 3L -> "gamma"))
  }

  test("curation: quality gate thresholds behave monotonically") {
    val docs = t("documents")
    val strict = Curation.qualityGate(docs, minQuality = 0.3, maxWordRep = 0.6)
    val lax = Curation.qualityGate(docs, minQuality = 0.0, maxWordRep = 1.0)
    val nStrict = strict.filter(col("keep") === 1).count()
    val nLax = lax.filter(col("keep") === 1).count()
    assert(nStrict > 0 && nStrict < docs.count())
    assert(nLax >= nStrict)
    // with thresholds fully open, keep == (language prediction confirms tag)
    val mismatchKept = lax.filter(col("keep") === 1 && col("lang_pred") =!= col("lang")).count()
    assert(mismatchKept === 0)
    // zh-tagged docs can never pass (predictor covers en/es/de/fr only)
    assert(lax.filter(col("lang") === "zh" && col("keep") === 1).count() === 0)
  }

  test("multimodal: frame dedup finds shared frames across planted dup docs") {
    val dups = Multimodal.frameDedup(t("documents")).collect()
    assert(dups.nonEmpty) // planted near-dup docs share identical 32-char frames
    assert(dups.forall(_.getLong(1) > 1))
  }

  test("curation: contamination screen flags n-gram overlap with the eval set only") {
    import spark.implicits._
    val evalSet = Seq((1L, "the quick brown fox jumps over the lazy dog")).toDF("doc_id", "text")
    val corpus = Seq(
      (10L, "we saw the quick brown fox jumps over a fence"), // shares 5-grams
      (11L, "completely unrelated clean training document text here"),
      (12L, "short doc")).toDF("doc_id", "text") // < n tokens: filtered, not crashed
    val hits = Curation.contaminationScreen(corpus, evalSet, n = 5).collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    assert(hits.toSeq === Seq((10L, 2L))) // "the quick brown fox jumps", "quick brown fox jumps over"
  }

  test("dedup: passage dedup catches aligned chunk copies, ignores unaligned and partial") {
    import spark.implicits._
    val base = (1 to 8).map(i => s"w$i").mkString(" ") // one full 4-token-chunk x2
    val docs = Seq(
      (1L, base),                        // chunks: [w1..w4], [w5..w8]
      (2L, base),                        // exact copy: both chunks shared
      (3L, "x0 " + base),                // shifted by 1: NOT aligned, no match
      (4L, "w1 w2 w3")                   // partial chunk only: dropped
    ).toDF("doc_id", "text")
    val dups = Dedup.passageDedup(docs, size = 4).collect()
    assert(dups.length === 2) // the two aligned chunks, each in docs {1,2}
    assert(dups.forall(r => r.getLong(1) === 2L && r.getLong(2) === 1L))
  }

  test("curation: pseudonymize is deterministic, distinct per key, and join-stable") {
    import spark.implicits._
    val df = Seq((1L, "a"), (2L, "b"), (1L, "c")).toDF("user_id", "v")
    val p1 = Curation.pseudonymize(df, "user_id", "pep").collect()
    val p2 = Curation.pseudonymize(df, "user_id", "pep").collect()
    assert(p1.map(_.getString(0)).toSeq === p2.map(_.getString(0)).toSeq) // stable
    val byKey = p1.groupBy(_.getString(1)).view.mapValues(_.head.getString(0))
    assert(byKey("a") === byKey("c")) // same key -> same pseudonym
    assert(byKey("a") !== byKey("b")) // different key -> different pseudonym
    assert(byKey("a").length === 64 && byKey("a").matches("[0-9a-f]+"))
    // a different pepper changes every pseudonym
    val p3 = Curation.pseudonymize(df, "user_id", "other").collect()
    assert(p3.map(_.getString(0)).toSet.intersect(p1.map(_.getString(0)).toSet).isEmpty)
  }

  test("cleaning: latestByKey keeps the greatest (order, tie) row per key, deterministically") {
    import spark.implicits._
    val df = Seq(
      (1L, "a", 10L, 100.0), (1L, "a", 20L, 200.0), // same key+ts: tie on id
      (1L, "a", 20L, 300.0),
      (2L, "b", 5L, 50.0))
      .toDF("k", "g", "ts", "v")
      .withColumn("id", monotonically_increasing_id())
    val r = ops.Cleaning.latestByKey(df, Seq("k", "g"), "ts", "id")
      .select("k", "g", "ts").collect().map(x => (x.getLong(0), x.getString(1), x.getLong(2)))
    assert(r.toSet === Set((1L, "a", 20L), (2L, "b", 5L)))
    // deterministic: repeated runs pick the identical winner rows
    val a = ops.Cleaning.latestByKey(df, Seq("k", "g"), "ts", "id").collect().map(_.toString).sorted
    val b = ops.Cleaning.latestByKey(df, Seq("k", "g"), "ts", "id").collect().map(_.toString).sorted
    assert(a.toSeq === b.toSeq)
  }

  test("tables: spread widens narrow scans, leaves exchange-bearing plans untouched") {
    val scan = t("documents")
    val cores = spark.sparkContext.defaultParallelism
    assert(scan.rdd.getNumPartitions < cores, "fixture should be a narrow scan")
    assert(Tables.spread(scan).rdd.getNumPartitions === cores)
    // a plan that already contains an exchange must come back identical
    // (probing it would materialize upstream stages at plan time)
    val joined = scan.join(scan.select(col("doc_id")), "doc_id")
    assert(Tables.spread(joined) eq joined)
  }

  test("similarity: ivfAppend folds a new batch into the index; full probe = exact search") {
    import spark.implicits._
    val emb = t("embeddings")
    val half = emb.filter(col("vec_id") % 2 === 0)
    val rest = emb.filter(col("vec_id") % 2 === 1)
    val tmp = java.nio.file.Files.createTempDirectory("graft-ivf-app").toString + "/idx"
    val centroids = Similarity.ivfBuildIndex(half, tmp, numCentroids = 8)
    Similarity.ivfAppend(rest, tmp)
    // every vector (both halves) is now in the index exactly once
    assert(spark.read.parquet(tmp).count() === emb.count())
    // probing all clusters degenerates to exact search over the UNION —
    // appended vectors must be reachable through the original quantizer
    val q = emb.filter(col("vec_id") === 0L)
      .select(col("embedding").cast("array<double>")).as[Array[Double]].head()
    val all = Similarity.ivfTopKIndexed(spark, tmp, centroids, q, 5, nProbe = 8,
      excludeVecId = Some(0L)).collect().map(_.getLong(0))
    val exact = Similarity.bruteForceTopK(emb, 0L, 5).collect().map(_.getLong(0))
    assert(all.toSeq === exact.toSeq)
  }

  test("quality: one-pass rule check counts violations per rule, nulls violate ranges") {
    import spark.implicits._
    val df = Seq[(java.lang.Long, java.lang.Double, String)](
      (1L, 5.0, "a"), (2L, 99.0, "b"), (null, 1.0, "c"), (4L, null, "a"), (1L, 2.0, "z"))
      .toDF("k", "v", "cat")
    val rows = Quality.check(df,
      Seq(Quality.notNull("k"), Quality.inRange("v", 0, 10),
        Quality.inSet("cat", Seq("a", "b", "c"))),
      uniqueKeys = Seq(Seq("k")))
      .collect().map(x => (x.getString(0), x.getLong(1), x.getLong(2), x.getInt(3)))
    assert(rows.toSeq === Seq(
      ("in_set_cat", 5L, 1L, 0),      // "z"
      ("not_null_k", 5L, 1L, 0),      // the null key
      ("range_v", 5L, 2L, 0),         // 99.0 out of range + null v
      // k=1 twice AND countDistinct skips the null row: 5 - |{1,2,4}| = 2
      ("unique_k", 5L, 2L, 0)))
  }

  test("dedup: keep-list keeps the longest cluster member, min doc_id on ties") {
    import spark.implicits._
    val body = (1 to 40).map(i => s"tok$i").mkString(" ")
    val docs = Seq(
      (1L, body, 100L),           // cluster {1,2,3}: 2 is longest
      (2L, body + " extra", 300L),
      (3L, body, 100L),           // ties 1 on n_chars; 1 wins by id
      (9L, (100 to 160).map(i => s"z$i").mkString(" "), 50L) // unclustered: absent
    ).toDF("doc_id", "text", "n_chars")
    val r = Dedup.dedupKeepList(docs).collect()
      .map(x => (x.getLong(0), x.getLong(1), x.getInt(2)))
    assert(r.toSeq === Seq((1L, 1L, 0), (2L, 1L, 1), (3L, 1L, 0)))
  }

  test("relational: bloom-pruned semi join is exact even at a terrible fpp") {
    import spark.implicits._
    val big = (1L to 2000L).map(i => (i, s"row$i")).toDF("k", "v")
    val small = Seq(3L, 7L, 1999L, 4242L).toDF("sk") // 4242 matches nothing
    // fpp 0.5: the bloom lets ~half of everything through — the verify
    // join must still reduce the result to the exact semi join
    val got = ops.Relational.bloomPrunedSemiJoin(big, small, "k", "sk",
      expectedItems = 10, fpp = 0.5).select("k").as[Long].collect().sorted
    assert(got.toSeq === Seq(3L, 7L, 1999L))
    // the probe must sit BEFORE the join: the pruned side's plan
    // contains the bloom filter under the join. (A parquet-backed input
    // — ConvertToLocalRelation folds filters over in-memory relations
    // away entirely, which would vacuously pass/fail this.)
    val tmp = java.nio.file.Files.createTempDirectory("graft_bloom").toString
    big.write.mode("overwrite").parquet(tmp)
    val plan = ops.Relational.bloomPrunedSemiJoin(
        spark.read.parquet(tmp), small, "k", "sk")
      .queryExecution.optimizedPlan.toString
    assert(plan.contains("graft_bloom_might_contain"))
  }

  test("aggregates: local supplier volume requires customer and supplier in the SAME nation") {
    import spark.implicits._
    val ts = java.sql.Timestamp.valueOf(_: String)
    val customer = Seq((1L, 10), (2L, 20)).toDF("c_custkey", "c_nationkey")
    val orders = Seq((100L, 1L, ts("1997-06-01 00:00:00")),
      (200L, 2L, ts("1997-06-01 00:00:00")))
      .toDF("o_orderkey", "o_custkey", "o_orderdate")
    val lineitem = Seq(
      (100L, 5L, 100.0, 0.0),  // supplier 5 is in nation 10 = customer 1's: counts
      (200L, 5L, 999.0, 0.0))  // customer 2 in nation 20 != supplier nation: dropped
      .toDF("l_orderkey", "l_suppkey", "l_extendedprice", "l_discount")
    val supplier = Seq((5L, 10)).toDF("s_suppkey", "s_nationkey")
    val nation = Seq((10, "JAPAN", 0), (20, "FRANCE", 1))
      .toDF("n_nationkey", "n_name", "n_regionkey")
    val region = Seq((0, "ASIA"), (1, "EUROPE")).toDF("r_regionkey", "r_name")
    val r = Aggregates.localSupplierVolume(
      customer, orders, lineitem, supplier, nation, region).collect()
    assert(r.map(x => (x.getString(0), x.getDouble(1))).toSeq === Seq(("JAPAN", 100.0)))
  }

  test("aggregates: shipping priority matches a hand-computed top order") {
    import spark.implicits._
    val ts = java.sql.Timestamp.valueOf(_: String)
    val customer = Seq((1L, "BUILDING"), (2L, "MACHINERY"))
      .toDF("c_custkey", "c_mktsegment")
    val orders = Seq(
      (10L, 1L, ts("1998-01-01 00:00:00"), "1-URGENT"),  // qualifies
      (11L, 1L, ts("1998-07-01 00:00:00"), "2-HIGH"),    // after cut: excluded
      (12L, 2L, ts("1998-01-01 00:00:00"), "3-MEDIUM"))  // wrong segment
      .toDF("o_orderkey", "o_custkey", "o_orderdate", "o_orderpriority")
    val lineitem = Seq(
      (10L, 100.0, 0.1, ts("1998-08-01 00:00:00")),  // 100*0.9 = 90
      (10L, 50.0, 0.0, ts("1998-09-01 00:00:00")),   // +50 -> 140
      (10L, 70.0, 0.0, ts("1998-01-02 00:00:00")),   // shipped before cut: excluded
      (12L, 999.0, 0.0, ts("1998-08-01 00:00:00")))
      .toDF("l_orderkey", "l_extendedprice", "l_discount", "l_shipdate")
    val r = Aggregates.shippingPriority(customer, orders, lineitem).collect()
    assert(r.length === 1)
    assert(r.head.getLong(0) === 10L)
    assert(r.head.getDouble(1) === 140.0)
  }

  test("seqPack conserves tokens, packs are contiguous id ranges from 0") {
    val docs = t("documents")
    val packs = Curation.seqPack(docs, budget = 512L, shardSize = 100L).collect()
    val total = packs.map(_.getAs[Long]("n_tokens")).sum
    val expected = docs.select(sum(size(split(col("text"), " ")).cast("long")))
      .head().getLong(0)
    assert(total === expected) // every token lands in exactly one pack
    packs.groupBy(r => (r.getAs[String]("source"), r.getAs[Long]("shard")))
      .foreach { case (_, rows) =>
        val sorted = rows.sortBy(_.getAs[Long]("pack"))
        assert(sorted.head.getAs[Long]("pack") === 0L)
        sorted.sliding(2).foreach {
          case Array(a, b) =>
            // doc ranges never interleave across packs
            assert(a.getAs[Long]("last_doc") < b.getAs[Long]("first_doc"))
          case _ =>
        }
      }
  }

  test("capPerGroup: cap honored, deterministic, and map-side pre-pruned") {
    val docs = t("documents")
    val capped = Curation.capPerGroup(docs, "source", "doc_id", cap = 7)
    val perGroup = capped.groupBy("source").count().collect()
    assert(perGroup.nonEmpty && perGroup.forall(_.getAs[Long]("count") <= 7L))
    // the rank filter must compile to WindowGroupLimit: each map task
    // pre-prunes to its local top-cap BEFORE the shuffle
    val plan = capped.queryExecution.executedPlan.toString
    assert(plan.contains("WindowGroupLimit"), s"expected WindowGroupLimit in:\n$plan")
    // hash selection is reproducible run-to-run
    val a = capped.select("doc_id").collect().map(_.getLong(0)).sorted
    val b = Curation.capPerGroup(docs, "source", "doc_id", cap = 7)
      .select("doc_id").collect().map(_.getLong(0)).sorted
    assert(a.sameElements(b))
  }

  test("tokenChunks: stride coverage and exact chunk content") {
    import spark.implicits._
    val df = Seq((1L, "a b c d e")).toDF("doc_id", "text")
    val r = Curation.tokenChunks(df, chunkSize = 3, stride = 2)
      .collect().sortBy(_.getAs[Long]("chunk_idx"))
    def m(s: String) =
      java.security.MessageDigest.getInstance("MD5").digest(s.getBytes("UTF-8"))
        .map("%02x".format(_)).mkString
    assert(r.length === 3) // starts 0, 2, 4
    assert(r.map(_.getAs[String]("chunk_md5")).toSeq ===
      Seq(m("a b c"), m("c d e"), m("e")))
    assert(r.map(_.getAs[Long]("n_chunk_tokens")).toSeq === Seq(3L, 3L, 1L))
    // corpus-wide: chunk count per doc is floor((n-1)/stride)+1
    val docs = t("documents")
    val got = Curation.tokenChunks(docs, 50, 40)
      .groupBy("doc_id").count()
    val want = docs.select(col("doc_id"),
      (floor((size(split(col("text"), " ")) - 1) / 40) + 1).as("want"))
    assert(got.join(want, "doc_id")
      .filter(col("count") =!= col("want")).count() === 0L)
  }

  test("tokenEntropy kernel equals the explode formulation; plan is a pure projection") {
    val docs = t("documents")
    val fast = Curation.tokenEntropy(docs)
    val slow = Curation.tokenEntropyExpanded(docs)
    val bad = fast.join(slow.withColumnsRenamed(
        Map("n_tokens" -> "nt2", "n_terms" -> "nd2", "entropy_bits" -> "e2")), "doc_id")
      .filter(col("n_tokens") =!= col("nt2") || col("n_terms") =!= col("nd2") ||
        col("entropy_bits") =!= col("e2"))
    assert(bad.count() === 0)
    val plan = fast.queryExecution.executedPlan.toString
    assert(!plan.contains("Generate") && !plan.contains("HashAggregate"),
      s"entropy should be a shuffle-free projection:\n$plan")
  }

  test("tokenEntropy: uniform = log2(n), constant = 0") {
    import spark.implicits._
    val df = Seq((1L, "a b c d"), (2L, "a a a a")).toDF("doc_id", "text")
    val r = Curation.tokenEntropy(df).collect().sortBy(_.getAs[Long]("doc_id"))
    assert(r(0).getAs[Long]("n_terms") === 4L)
    assert(math.abs(r(0).getAs[Double]("entropy_bits") - 2.0) < 1e-3)
    assert(r(1).getAs[Long]("n_terms") === 1L)
    assert(r(1).getAs[Double]("entropy_bits") === 0.0)
  }

  test("transitionMatrix: counts = events - users-with-events, shares sum to 1") {
    val ev = t("events")
    val r = Events.transitionMatrix(ev)
    val total = r.select(sum("n")).head().getLong(0)
    // every event except each user's first contributes one transition
    val expected = ev.count() - ev.select("user_id").distinct().count()
    assert(total === expected)
    val shares = r.groupBy("prev_type").agg(sum("share").as("s")).collect()
    shares.foreach(row => assert(math.abs(row.getAs[Double]("s") - 1.0) < 1e-2))
  }

  test("basketAffinity: metrics bounded, confidence >= support, lift symmetry check") {
    val r = Events.basketAffinity(t("events")).collect()
    assert(r.nonEmpty)
    r.foreach { row =>
      val s = row.getAs[Double]("support"); val c = row.getAs[Double]("conf_a_to_b")
      assert(s > 0 && s <= 1.0 && c >= s - 1e-9 && c <= 1.0)
      assert(row.getAs[Double]("lift") > 0)
    }
  }

  test("streaming seasonality equals the batch hour-of-day profile") {
    val streamed = graft.streaming.StreamingOps.seasonalityStream(spark, sf())
    val batch = Events.hourOfDayProfile(t("events"))
    assert(streamed.collect().map(_.toString).toSeq ===
      batch.collect().map(_.toString).toSeq)
  }

  test("eventCooccurrence: pair support bounded by each type's user count") {
    val ev = t("events")
    val perType = ev.select("user_id", "event_type").distinct()
      .groupBy("event_type").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    val r = Events.eventCooccurrence(ev).collect()
    assert(r.nonEmpty)
    r.foreach { row =>
      val (a, b, n) = (row.getString(0), row.getString(1), row.getLong(2))
      assert(a < b)
      assert(n <= math.min(perType(a), perType(b)))
    }
  }

  test("zscoreNormalize: zero mean per group, constant group -> 0") {
    import spark.implicits._
    val df = Seq(("g1", 1.0), ("g1", 2.0), ("g1", 3.0),
      ("g2", 5.0), ("g2", 5.0)).toDF("g", "v")
    val r = Aggregates.zscoreNormalize(df, "g", "v").collect()
    val g1 = r.filter(_.getString(0) == "g1").map(_.getAs[Double]("z"))
    assert(math.abs(g1.sum) < 1e-3 && g1.max > 0.9)
    assert(r.filter(_.getString(0) == "g2").forall(_.getAs[Double]("z") === 0.0))
  }

  test("weightedSample: zero weight drops all, full weight keeps all, monotone") {
    val docs = t("documents")
    val n = docs.count()
    assert(Curation.weightedSample(docs, "doc_id", lit(0L), 100L).count() === 0L)
    assert(Curation.weightedSample(docs, "doc_id", lit(100L), 100L).count() === n)
    val lo = Curation.weightedSample(docs, "doc_id", lit(25L), 100L)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    val hi = Curation.weightedSample(docs, "doc_id", lit(75L), 100L)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(lo.subsetOf(hi)) // higher weight can only ADD rows (same hash)
    assert(lo.size < hi.size && hi.size < n)
  }

  test("groupCentroids: exact means on hand vectors, one row per (label, dim)") {
    import spark.implicits._
    val emb = Seq(
      (1L, Array(1.0f, 0.0f)), (2L, Array(3.0f, 2.0f)), // g1: mean (2, 1)
      (3L, Array(0.0f, 4.0f)))                          // g2: mean (0, 4)
    .toDF("vec_id", "embedding")
    val lab = Seq((1L, "g1"), (2L, "g1"), (3L, "g2")).toDF("vec_id", "lang")
    val r = Similarity.groupCentroids(emb, lab, "lang").collect()
    assert(r.length === 4)
    val m = r.map(x => (x.getString(0), x.getAs[Long]("dim_idx")) ->
      x.getAs[Double]("mean_val")).toMap
    assert(m(("g1", 1L)) === 2.0 && m(("g1", 2L)) === 1.0)
    assert(m(("g2", 1L)) === 0.0 && m(("g2", 2L)) === 4.0)
    assert(r.forall(x => x.getAs[Long]("n_vecs") ===
      (if (x.getString(0) == "g1") 2L else 1L)))
  }

  test("randomProjection: deterministic, map-side, roughly distance-preserving ordering") {
    val emb = t("embeddings")
    val a = Similarity.randomProjection(emb, outDim = 4).collect()
    val b = Similarity.randomProjection(emb, outDim = 4).collect()
    assert(a.map(_.toString).toSeq === b.map(_.toString).toSeq) // seeded planes
    assert(a.head.schema.fieldNames.toSeq === Seq("vec_id", "p0", "p1", "p2", "p3"))
    // map-side: no shuffle besides the output sort
    val plan = Similarity.randomProjection(emb, outDim = 4)
      .queryExecution.executedPlan.toString
    assert(!plan.contains("HashAggregate") && !plan.contains("hashpartitioning"),
      s"projection must be a pure projection + sort:\n$plan")
  }

  test("classifyByCentroid: separable clusters give a diagonal confusion matrix") {
    import spark.implicits._
    val emb = (1L to 6L).map { i =>
      if (i <= 3) (i, Array(1.0f, 0.1f * i)) else (i, Array(-1.0f, 0.1f * i))
    }.toDF("vec_id", "embedding")
    val lab = (1L to 6L).map(i => (i, if (i <= 3) "pos" else "neg")).toDF("vec_id", "lang")
    val r = Similarity.classifyByCentroid(emb, lab, "lang").collect()
    val m = r.map(x => (x.getString(0), x.getString(1)) -> x.getAs[Long]("n")).toMap
    assert(m === Map(("pos", "pos") -> 3L, ("neg", "neg") -> 3L)) // no off-diagonal
  }

  test("containmentPairs: planted subset copy scores ~1 one-way, Jaccard low") {
    import spark.implicits._
    // doc 2 is a strict prefix-quote of doc 1: containment(2 in 1) = 1,
    // Jaccard is diluted by doc 1's extra shingles
    val long = (1 to 40).map(i => s"w$i").mkString(" ")
    val short = (1 to 8).map(i => s"w$i").mkString(" ")
    val other = (100 to 140).map(i => s"x$i").mkString(" ")
    val docs = Seq((1L, long), (2L, short), (3L, other)).toDF("doc_id", "text")
    val cont = Dedup.containmentPairs(docs, n = 3, minContainment = 0.5).collect()
    assert(cont.length === 1)
    val r = cont.head
    assert(r.getAs[Long]("doc_a") === 1L && r.getAs[Long]("doc_b") === 2L)
    assert(r.getAs[Double]("cont_b_in_a") === 1.0) // short fully inside long
    assert(r.getAs[Double]("cont_a_in_b") < 0.2)
    val jac = Dedup.ngramJaccardPairs(docs, n = 3, minJaccard = 0.3).collect()
    assert(jac.isEmpty) // resemblance misses the subset copy
  }

  test("pipeline chain fuses: one scan per table, contains-filter pushed to parquet") {
    // filter precedes fill: coalesce-wrapped columns block pushdown
    // (with fill first, the Contains lands in DataFilters only)
    val prep = Pipeline("t")
      .stage("urgent", ops.Mutation.filterContains(_, "o_orderpriority", "URGENT"))
      .stage("clean", ops.Cleaning.fillNulls(_, "UNKNOWN", 0d))
      .stage("split", ops.Columns.splitColumnLiteral(_, "o_orderpriority", "-"))
    val out = prep(t("orders"))
      .join(t("customer"), col("o_custkey") === col("c_custkey"))
      .groupBy(col("c_mktsegment")).agg(count(lit(1)).as("n"))
    val plan = out.queryExecution.executedPlan.toString
    // three chained stages must NOT introduce extra scans or barriers
    assert("Scan parquet".r.findAllIn(plan).size === 2, s"expected 2 scans:\n$plan")
    assert(plan.contains("StringContains"), "contains-filter should reach PushedFilters")
  }

  test("rfmSegments: every customer lands in exactly one segment, spend conserved") {
    val orders = t("orders")
    val r = Aggregates.rfmSegments(orders).collect()
    val nCust = orders.select("o_custkey").distinct().count()
    assert(r.map(_.getAs[Long]("n_customers")).sum === nCust)
    val total = orders.select(
      (sum(round(col("o_totalprice") * 100).cast("long")).cast("double") / 100.0)
        .as("t")).head().getDouble(0)
    assert(math.abs(r.map(_.getAs[Double]("total_spend")).sum - total) < 1e-6)
  }

  test("equalFrequencyBins: uniform domain bins exactly, rows conserved, ranges disjoint") {
    import spark.implicits._
    // 100 distinct values, one row each, k=10 -> ten bins of exactly 10
    val uniform = (1L to 100L).map(v => Tuple1(v)).toDF("v")
    val u = Curation.equalFrequencyBins(uniform, "v", 10).collect()
    assert(u.length === 10)
    assert(u.forall(r => r.getAs[Long]("n_rows") === 10L))
    // fixture: conservation + ordered disjoint ranges
    val docs = t("documents")
    val r = Curation.equalFrequencyBins(docs, "n_chars", 10).collect()
    assert(r.map(_.getAs[Long]("n_rows")).sum === docs.filter(col("n_chars").isNotNull).count())
    r.sliding(2).foreach {
      case Array(a, b) => assert(a.getAs[Long]("hi") < b.getAs[Long]("lo"))
      case _ =>
    }
  }

  test("triangleStats: K4 is all triangles, C4 has none") {
    import spark.implicits._
    val k4 = Seq((1L, 2L), (1L, 3L), (1L, 4L), (2L, 3L), (2L, 4L), (3L, 4L)).toDF("a", "b")
    val rk = Graph.triangleStats(k4, "a", "b").head()
    assert(rk.getAs[Long]("n_nodes") === 4L && rk.getAs[Long]("n_edges") === 6L)
    assert(rk.getAs[Long]("n_wedges") === 12L && rk.getAs[Long]("n_triangles") === 4L)
    assert(rk.getAs[Double]("global_cc") === 1.0)
    // 4-cycle: wedges but no closures; duplicate/reversed pairs collapse
    val c4 = Seq((1L, 2L), (2L, 3L), (3L, 4L), (4L, 1L), (2L, 1L)).toDF("a", "b")
    val rc = Graph.triangleStats(c4, "a", "b").head()
    assert(rc.getAs[Long]("n_edges") === 4L && rc.getAs[Long]("n_triangles") === 0L)
    assert(rc.getAs[Double]("global_cc") === 0.0)
  }

  test("cohortLtv: cumulative per-user revenue by cohort age") {
    import spark.implicits._
    def ts(m: Int, d: Int) = java.sql.Timestamp.valueOf(
      java.time.LocalDate.of(2025, m, d).atTime(9, 0))
    // u1,u2 cohort Jan (u2 never buys); u3 cohort Feb.
    val ev = Seq(
      (1L, ts(1, 5), "purchase", 10.00), (2L, ts(1, 6), "view", 0.0),
      (1L, ts(2, 5), "purchase", 5.00), (3L, ts(2, 1), "purchase", 7.00))
      .toDF("user_id", "ts", "event_type", "value")
    val r = Events.cohortLtv(ev).collect()
      .map(x => (x.getAs[java.sql.Date]("cohort").toString, x.getAs[Long]("age_months")) -> x)
      .toMap
    // Jan cohort: 2 users; age 0 rev 10 -> 5.0/user; age 1 cum 15 -> 7.5/user
    assert(r(("2025-01-01", 0L)).getAs[Double]("ltv_per_user4") === 5.0)
    assert(r(("2025-01-01", 1L)).getAs[Double]("cum_revenue") === 15.0)
    assert(r(("2025-01-01", 1L)).getAs[Double]("ltv_per_user4") === 7.5)
    // Feb cohort: 1 user, 7.00 at age 0
    assert(r(("2025-02-01", 0L)).getAs[Long]("n_users") === 1L)
    assert(r(("2025-02-01", 0L)).getAs[Double]("ltv_per_user4") === 7.0)
  }

  test("priceIndexLaspeyres: pure price doubling doubles the index") {
    import spark.implicits._
    def d(m: Int) = java.sql.Timestamp.valueOf(
      java.time.LocalDate.of(2025, m, 10).atTime(0, 0))
    // two parts, same quantities both months; part 1 price doubles,
    // part 2 stays -> index = (q1*2p1 + q2*p2)/(q1*p1 + q2*p2)
    val li = Seq(
      (1L, d(1), 10.0, 2L), (2L, d(1), 20.0, 1L),
      (1L, d(2), 20.0, 2L), (2L, d(2), 20.0, 1L))
      .toDF("l_partkey", "l_shipdate", "l_extendedprice", "l_quantity")
    val r = Aggregates.priceIndexLaspeyres(li).collect()
      .map(x => x.getAs[java.sql.Date]("month").toString -> x).toMap
    assert(r("2025-01-01").getAs[Double]("index4") === 1.0)
    // base basket cost 2*5+1*20=30 cents-scale; feb: 2*10+1*20=40 -> 1.3333
    assert(r("2025-02-01").getAs[Double]("index4") === 1.3333)
  }

  test("peakConcurrency: overlap counts, sequential does not") {
    import spark.implicits._
    def ts(h: Int, m: Int) = java.sql.Timestamp.valueOf(
      java.time.LocalDate.of(2025, 5, 1).atTime(h, m))
    // u1 session 10:00-10:10 overlaps u2 10:05-10:15; u3 12:00 alone.
    // touching rule: u4 starts exactly when u1 ends -> concurrent.
    val ev = Seq(
      (1L, 10L, ts(10, 0)), (2L, 11L, ts(10, 5)), (1L, 12L, ts(10, 10)),
      (2L, 13L, ts(10, 15)), (3L, 14L, ts(12, 0)), (4L, 15L, ts(10, 10)))
      .toDF("user_id", "event_id", "ts")
    val r = Events.peakConcurrency(ev).collect()
    assert(r.length === 1)
    assert(r(0).getAs[Long]("n_sessions") === 4L)
    // at 10:10: u1 still open (end point sorts after starts), u2 open, u4 starting
    assert(r(0).getAs[Long]("peak_concurrent") === 3L)
  }

  test("kaplanMeier: hand-computed survival on a 4-user cohort") {
    import spark.implicits._
    def ts(day: Int) = java.sql.Timestamp.valueOf(
      java.time.LocalDate.of(2025, 1, 1).plusDays(day.toLong).atTime(12, 0))
    // u1 t=0 churn, u2 t=2 churn, u3 t=2 censored, u4 t=20 censored
    val ev = Seq(
      (1L, ts(0)), (2L, ts(1)), (2L, ts(3)),
      (3L, ts(18)), (3L, ts(20)), (4L, ts(0)), (4L, ts(20)))
      .toDF("user_id", "ts")
    val r = Events.kaplanMeier(ev, censorDays = 14).collect()
      .map(x => x.getAs[Long]("t") -> x).toMap
    assert(r.keySet === Set(0L, 2L, 20L))
    assert(r(0L).getAs[Long]("n_risk") === 4L && r(0L).getAs[Long]("d_churn") === 1L)
    assert(r(2L).getAs[Long]("n_risk") === 3L && r(2L).getAs[Long]("d_churn") === 1L)
    assert(r(2L).getAs[Long]("n_censored") === 1L)
    // S(0)=3/4, S(2)=3/4 * 2/3 = 1/2 (integer-scaled ln truncates a hair low)
    assert(r(0L).getAs[Double]("surv4") === 0.7499)
    assert(r(2L).getAs[Double]("surv4") === 0.4999)
    // censor-only time: survival flat, nobody churns
    assert(r(20L).getAs[Long]("d_churn") === 0L)
    assert(r(20L).getAs[Double]("surv4") === 0.4999)
  }

  test("revenueRunsTest: known sign sequence ++-+-") {
    import spark.implicits._
    def d(i: Int) = java.sql.Timestamp.valueOf(
      java.time.LocalDate.of(2025, 3, 1).plusDays(i.toLong).atTime(0, 0))
    // daily cents 1,2,3,2,3,2 -> diffs + + - + - : a=3 b=2 runs=4
    val orders = Seq(1, 2, 3, 2, 3, 2).zipWithIndex
      .map { case (c, i) => (d(i), c / 100.0) }
      .toDF("o_orderdate", "o_totalprice")
    val r = Aggregates.revenueRunsTest(orders).head()
    assert(r.getAs[Long]("n_up") === 3L && r.getAs[Long]("n_down") === 2L)
    assert(r.getAs[Long]("n_runs") === 4L)
    assert(r.getAs[Double]("mu4") === 3.4)
    // z = (4 - 3.4)/sqrt(0.84) = 0.6546...
    assert(r.getAs[Double]("z4") === 0.6546)
  }

  test("revenuePeaks: strict local maxima above the prominence bar") {
    import spark.implicits._
    def d(i: Int) = java.sql.Timestamp.valueOf(
      java.time.LocalDate.of(2025, 3, 1).plusDays(i.toLong).atTime(0, 0))
    // 1.00 3.00 1.00 1.10 1.00: day1 is a 3x peak, day3 misses the 1.2 bar
    val orders = Seq(100, 300, 100, 110, 100).zipWithIndex
      .map { case (c, i) => (d(i), c / 100.0) }
      .toDF("o_orderdate", "o_totalprice")
    val r = Aggregates.revenuePeaks(orders).collect()
    assert(r.length === 1)
    assert(r(0).getAs[Double]("revenue") === 3.0)
    assert(r(0).getAs[Double]("ratio4") === 3.0)
  }

  test("localClustering: kite graph coefficients are exact") {
    import spark.implicits._
    // triangle {1,2,3} plus pendant path 3-4: cc(1)=cc(2)=1, cc(3)=1/3
    val kite = Seq((1L, 2L), (1L, 3L), (2L, 3L), (3L, 4L)).toDF("a", "b")
    val r = Graph.localClustering(kite, "a", "b", 10).collect()
      .map(x => x.getAs[Long]("node") -> x).toMap
    assert(r.keySet === Set(1L, 2L, 3L)) // node 4 has d=1: undefined, excluded
    assert(r(1L).getAs[Double]("cc4") === 1.0 && r(2L).getAs[Double]("cc4") === 1.0)
    assert(r(3L).getAs[Long]("degree") === 3L && r(3L).getAs[Long]("n_tri") === 1L)
    assert(r(3L).getAs[Double]("cc4") === 0.3333)
  }

  test("kCore: pendant chain peels iteratively, triangle survives") {
    import spark.implicits._
    // triangle {1,2,3} with a chain 3-4-5-6: 2-core peels the chain
    // one pendant per round (needs 3 rounds — exercises the loop)
    val g = Seq((1L, 2L), (2L, 3L), (1L, 3L), (3L, 4L), (4L, 5L), (5L, 6L))
      .toDF("a", "b")
    val core2 = Graph.kCore(g, "a", "b", k = 2).collect()
      .map(r => r.getAs[Long]("node") -> r.getAs[Long]("core_degree")).toMap
    assert(core2 === Map(1L -> 2L, 2L -> 2L, 3L -> 2L))
    // 3-core of the same graph is empty (triangle degrees are all 2)
    assert(Graph.kCore(g, "a", "b", k = 3).collect().isEmpty)
    // K4: every node survives a 3-core with degree 3
    val k4 = Seq((1L, 2L), (1L, 3L), (1L, 4L), (2L, 3L), (2L, 4L), (3L, 4L)).toDF("a", "b")
    val core3 = Graph.kCore(k4, "a", "b", k = 3).collect()
    assert(core3.length === 4 && core3.forall(_.getAs[Long]("core_degree") === 3L))
    // driver fast path == distributed loop (driverEdgeMax = 0 forces it)
    val fast = Graph.kCore(g, "a", "b", k = 2).collect()
      .map(r => (r.getLong(0), r.getLong(1))).sortBy(_._1).toSeq
    val dist = Graph.kCore(g, "a", "b", k = 2, driverEdgeMax = 0L).collect()
      .map(r => (r.getLong(0), r.getLong(1))).sortBy(_._1).toSeq
    assert(fast === dist)
  }

  test("linkPrediction: wedge endpoints scored, existing edges excluded") {
    import spark.implicits._
    // path 1-2-3 plus 2-4: candidates are all pairs through center 2
    val path = Seq((1L, 2L), (2L, 3L), (2L, 4L)).toDF("a", "b")
    val r = Graph.linkPrediction(path, "a", "b", 10).collect()
    val pairs = r.map(x => (x.getAs[Long]("a"), x.getAs[Long]("b"))).toSet
    assert(pairs === Set((1L, 3L), (1L, 4L), (3L, 4L)))
    // every candidate: 1 common neighbor (node 2, d=3), same AA weight
    assert(r.forall(_.getAs[Long]("cn") === 1L))
    assert(r.map(_.getAs[Long]("aa_scaled")).distinct.length === 1)
    // both endpoints are leaves (d=1): jaccard = 1 / (1 + 1 - 1)
    assert(r.forall(_.getAs[Double]("jaccard4") === 1.0))
    // closing the triangle 1-2-3 removes (1,3) from the candidates
    val closed = Seq((1L, 2L), (2L, 3L), (2L, 4L), (1L, 3L)).toDF("a", "b")
    val r2 = Graph.linkPrediction(closed, "a", "b", 10).collect()
      .map(x => (x.getAs[Long]("a"), x.getAs[Long]("b"))).toSet
    assert(!r2.contains((1L, 3L)))
  }

  test("bigramModel: known corpus conditional probabilities") {
    import spark.implicits._
    val docs = Seq((1L, "a b a b"), (2L, "a b c")).toDF("doc_id", "text")
    val r = TextOps.bigramModel(docs, 10).collect()
    // bigrams: (a,b)x3, (b,a)x1, (b,c)x1 ; c1: a=3, b=2
    val ab = r.find(x => x.getAs[String]("w1") == "a" && x.getAs[String]("w2") == "b").get
    assert(ab.getAs[Long]("n_pair") === 3L && ab.getAs[Long]("n_first") === 3L)
    assert(ab.getAs[Double]("cond_p") === 1.0)
    val ba = r.find(x => x.getAs[String]("w1") == "b" && x.getAs[String]("w2") == "a").get
    assert(ba.getAs[Long]("n_first") === 2L && ba.getAs[Double]("cond_p") === 0.5)
    assert(r.head.getAs[Long]("n_pair") === 3L, "ordered by pair count desc")
  }

  test("dimStats: exact moments on a constructed pair of vectors") {
    import spark.implicits._
    val e = Seq((1L, Array(0f, 2f)), (2L, Array(2f, 2f))).toDF("vec_id", "embedding")
    val r = Similarity.dimStats(e).collect()
    assert(r.length === 2)
    val d0 = r(0)
    assert(d0.getAs[Long]("n") === 2L && d0.getAs[Double]("mean") === 1.0)
    assert(d0.getAs[Double]("std") === 1.0)
    assert(d0.getAs[Double]("lo") === 0.0 && d0.getAs[Double]("hi") === 2.0)
    val d1 = r(1)
    assert(d1.getAs[Double]("mean") === 2.0 && d1.getAs[Double]("std") === 0.0)
  }

  test("keySkewProfile: shares and mean-multiples on a known skew") {
    import spark.implicits._
    val df = (Seq.fill(6)(1L) ++ Seq.fill(3)(2L) ++ Seq(3L)).map(Tuple1(_)).toDF("k")
    val r = Aggregates.keySkewProfile(df, "k", 2).collect()
    assert(r.length === 2)
    assert(r(0).getAs[Long]("key") === 1L && r(0).getAs[Long]("n_rows") === 6L)
    assert(r(0).getAs[Double]("share4") === 0.6)
    // mean key count = 10/3; 6 / mean = 1.8
    assert(math.abs(r(0).getAs[Double]("x_mean4") - 1.8) < 1e-9)
    assert(r(1).getAs[Long]("key") === 2L && r(1).getAs[Double]("share4") === 0.3)
  }

  test("covarianceMatrix: exact on constructed vectors, upper triangle only") {
    import spark.implicits._
    val e = Seq((1L, Array(0f, 2f)), (2L, Array(2f, 2f))).toDF("vec_id", "embedding")
    val r = Similarity.covarianceMatrix(e).collect()
    assert(r.length === 3) // (0,0) (0,1) (1,1)
    def cov(i: Int, j: Int) = r.find(x =>
      x.getAs[Int]("i") == i && x.getAs[Int]("j") == j).get.getAs[Double]("cov4")
    assert(cov(0, 0) === 1.0) // var of {0,2}
    assert(cov(0, 1) === 0.0) // x1 constant
    assert(cov(1, 1) === 0.0)
    assert(r.forall(_.getAs[Long]("n") === 2L))
  }

  test("searchConjunctive: AND semantics, tf ranking") {
    import spark.implicits._
    val docs = Seq((1L, "a b c a"), (2L, "a b"), (3L, "c a a")).toDF("doc_id", "text")
    val r = TextOps.searchConjunctive(docs, Seq("a", "c"), 10).collect()
    assert(r.map(_.getAs[Long]("doc_id")).toSeq === Seq(1L, 3L)) // doc 2 lacks 'c'
    assert(r.forall(_.getAs[Long]("total_tf") === 3L))
  }

  test("iqrOutliers: fences and counts on a constructed distribution") {
    import spark.implicits._
    val df = ((1 to 9).map(_.toDouble) :+ 100.0).map(v => ("A", v)).toDF("g", "v")
    val r = Aggregates.iqrOutliers(df, "v", "g").collect()
    assert(r.length === 1)
    val row = r.head
    assert(row.getAs[Long]("n") === 10L)
    // q1=3.25 q3=7.75 -> fences [-3.5, 14.5]; only 100 is outside
    assert(row.getAs[Long]("n_outliers") === 1L)
    assert(row.getAs[Double]("lo4") === -3.5 && row.getAs[Double]("hi4") === 14.5)
    assert(row.getAs[Double]("outlier_pct4") === 10.0)
  }

  test("groupedExactPercentiles: matches builtin percentile per group, coarse vs fine bit-buckets") {
    import spark.implicits._
    // two groups with different sizes and ranges, incl. duplicates and
    // negatives (the sign-flip branch of the order-bits transform)
    val rows = (1 to 1000).map(i => ("A", (i % 97).toDouble - 13.0)) ++
      (1 to 313).map(i => ("B", i * 1.5))
    val df = rows.toDF("g", "v")
    val expected = df.groupBy($"g")
      .agg(org.apache.spark.sql.functions.expr("percentile(v, array(0.25, 0.5, 0.95))").as("q"))
      .collect().map(r => r.getString(0) -> r.getSeq[Double](1)).toMap
    // shift=62 leaves ~2 buckets (degenerate sort-nearly-everything),
    // shift=30 gives a huge sparse census — answers must be identical
    for (b <- Seq(30, 44, 62)) {
      val got = Aggregates.groupedExactPercentiles(df, "v", "g",
          Seq(0.25, 0.5, 0.95), Seq("q25", "q50", "q95"), shift = b)
        .collect().map(r => r.getString(0) ->
          Seq(r.getAs[Double]("q25"), r.getAs[Double]("q50"), r.getAs[Double]("q95"))).toMap
      assert(got.keySet === expected.keySet, s"shift=$b")
      for (g <- got.keySet; i <- 0 until 3)
        assert(got(g)(i) === expected(g)(i), s"shift=$b group=$g p#$i")
    }
    // constant column (min == max) degenerate bucket
    val const = Seq(("C", 5.0), ("C", 5.0), ("C", 5.0)).toDF("g", "v")
    val c = Aggregates.groupedExactPercentiles(const, "v", "g", Seq(0.5), Seq("q50")).collect()
    assert(c.head.getAs[Double]("q50") === 5.0 && c.head.getAs[Long]("n") === 3L)
  }

  test("exactPercentilesSmall: weighted interpolation matches builtin percentile") {
    import spark.implicits._
    val df = Seq(3.0, 1.0, 4.0, 1.5, 9.0, 2.6, 5.3).toDF("v")
    val exp = df.agg(org.apache.spark.sql.functions
      .expr("percentile(v, array(0.1, 0.5, 0.9))").as("q"))
      .collect().head.getSeq[Double](0)
    val got = Aggregates.exactPercentilesSmall(df, "v",
      Seq(0.1, 0.5, 0.9), Seq("p10", "p50", "p90")).collect().head
    assert(got.getAs[Long]("n") === 7L)
    assert(got.getAs[Double]("p10") === exp(0))
    assert(got.getAs[Double]("p50") === exp(1))
    assert(got.getAs[Double]("p90") === exp(2))
  }

  test("activityIslands: runs split on gaps, streaks counted") {
    import spark.implicits._
    // user 1: days 1,2,3 then 7,8 -> 2 islands, longest 3; user 2: one day
    val ev = Seq(
      (1L, "2024-01-01"), (1L, "2024-01-02"), (1L, "2024-01-03"),
      (1L, "2024-01-07"), (1L, "2024-01-08"), (1L, "2024-01-08"), // dup day
      (2L, "2024-03-05")
    ).toDF("user_id", "day")
      .select(col("user_id"), col("day").cast("timestamp").as("ts"))
    val r = Events.activityIslands(ev).collect()
      .map(x => x.getLong(0) -> (x.getLong(1), x.getLong(2), x.getLong(3))).toMap
    assert(r(1L) === ((5L, 2L, 3L)))
    assert(r(2L) === ((1L, 1L, 1L)))
  }

  test("weightedMedian: lower weighted median respects weights") {
    import spark.implicits._
    // values 1(w1), 2(w1), 3(w10): half of 12 is 6 -> median 3
    // group B: symmetric weights -> lower median 10
    val df = Seq(("A", 1.0, 1L), ("A", 2.0, 1L), ("A", 3.0, 10L),
      ("B", 10.0, 5L), ("B", 20.0, 5L)).toDF("g", "v", "w")
    val r = Aggregates.weightedMedian(df, "v", "w", "g").collect()
      .map(x => x.getString(0) -> (x.getLong(1), x.getDouble(2))).toMap
    assert(r("A") === ((12L, 3.0)))
    assert(r("B") === ((10L, 10.0)))
  }

  test("weightedMedian: zero-total-weight group returns (0, group min), -0.0 normalizes") {
    import spark.implicits._
    val df = Seq(("Z", 7.0, 0L), ("Z", 4.0, 0L),       // all-zero weights
      ("S", -0.0, 2L), ("S", 0.0, 2L),                 // signed-zero tie
      ("A", 1.0, 1L), ("A", 5.0, 3L)).toDF("g", "v", "w")
    val r = Aggregates.weightedMedian(df, "v", "w", "g").collect()
      .map(x => x.getString(0) -> (x.getLong(1), x.getDouble(2))).toMap
    assert(r("Z") === ((0L, 4.0)))   // degenerate contract, group kept
    assert(r("A") === ((4L, 5.0)))
    assert(r("S")._1 === 4L)
    // the median is zero AND serializes as +0.0, not -0.0
    assert(java.lang.Double.doubleToLongBits(r("S")._2) === 0L)
  }

  test("weightedQuantile: exact-rational thresholds across the ladder, p=1 is the max") {
    import spark.implicits._
    // weights 1..4 on values 10..40: tot=10; lower quantile thresholds
    // p=3/10 -> cum>=3 at v=20; p=6/10 -> cum>=6 at v=30; p=1 -> 40
    val df = Seq(("A", 10.0, 1L), ("A", 20.0, 2L), ("A", 30.0, 3L), ("A", 40.0, 4L))
      .toDF("g", "v", "w").repartition(3)
    def q(n: Long, d: Long): Double =
      Aggregates.weightedQuantile(df, "v", "w", "g", n, d).collect()
        .head.getAs[Double]("w_quantile")
    assert(q(3L, 10L) === 20.0)
    assert(q(6L, 10L) === 30.0)
    assert(q(1L, 1L) === 40.0)
    assert(q(1L, 10L) === 10.0)
  }

  test("weightedQuantileLadder: one pass agrees with per-quantile runs; zero-weight group") {
    import spark.implicits._
    val df = Seq(("A", 10.0, 1L), ("A", 20.0, 2L), ("A", 30.0, 3L), ("A", 40.0, 4L),
      ("B", 5.0, 7L), ("B", 6.0, 1L), ("B", 7.0, 2L),
      ("Z", 9.0, 0L), ("Z", 3.0, 0L)).toDF("g", "v", "w").repartition(3)
    val ps = Seq((1L, 2L), (9L, 10L), (99L, 100L))
    val names = Seq("p50", "p90", "p99")
    val ladder = Aggregates.weightedQuantileLadder(df, "v", "w", "g", ps, names)
      .collect().map(r => r.getString(0) -> r).toMap
    for (((n, d), nm) <- ps.zip(names)) {
      val single = Aggregates.weightedQuantile(df, "v", "w", "g", n, d)
        .collect().map(r => r.getString(0) -> r.getAs[Double]("w_quantile")).toMap
      for (g <- Seq("A", "B", "Z"))
        assert(ladder(g).getAs[Double](nm) === single(g), s"group=$g p=$n/$d")
    }
    assert(ladder("Z").getAs[Long]("total_weight") === 0L)
    assert(ladder("Z").getAs[Double]("p50") === 3.0)
  }

  test("zipfFit: exact power law recovers its slope") {
    import spark.implicits._
    // craft term frequencies ~ r^-1: term t_r appears floor(1200/r) times
    val docs = (1 to 30).flatMap { r =>
      Seq.fill(1200 / r)(s"t$r")
    }.grouped(50).zipWithIndex
      .map { case (ws, i) => (i.toLong, ws.mkString(" ")) }
      .toSeq.toDF("doc_id", "text")
    val row = TextOps.zipfFit(docs, k = 30).collect().head
    assert(row.getAs[Long]("n_terms") === 30L)
    val slope = row.getAs[Double]("slope4")
    assert(slope < -0.93 && slope > -1.07, s"slope=$slope")
  }

  test("scd2: consecutive duplicates collapse, validity chains") {
    import spark.implicits._
    val log = Seq(
      (1L, "2024-01-01 00:00:00", "a", 1L),
      (1L, "2024-01-02 00:00:00", "a", 2L), // no-op, collapsed
      (1L, "2024-01-03 00:00:00", "b", 3L),
      (2L, "2024-02-01 00:00:00", "x", 4L)
    ).toDF("k", "ts", "attr", "id")
      .select(col("k"), col("ts").cast("timestamp").as("ts"), col("attr"), col("id"))
    val r = ops.Relational.scd2(log, "k", "ts", "attr", "id").collect()
    assert(r.length === 3)
    val v1 = r.filter(_.getLong(0) == 1L)
    assert(v1.map(_.getString(1)).toSeq === Seq("a", "b"))
    // first version closes exactly when the second opens
    assert(v1(0).getLong(3) === v1(1).getLong(2))
    assert(v1(0).getInt(4) === 0 && v1(1).getInt(4) === 1)
  }

  test("dimTruncationEval: full dim has perfect recall, monotone-ish prefix") {
    val e = t("embeddings")
    val r = Similarity.dimTruncationEval(e).collect()
      .map(x => x.getInt(0) -> x.getLong(1)).toMap
    assert(r(64) === 10L) // full vs full
    assert(r.keySet === Set(8, 16, 32, 64))
    assert(r.values.forall(v => v >= 0L && v <= 10L))
  }

  test("kAnonymityAudit: small classes flagged") {
    import spark.implicits._
    val df = (Seq.fill(12)(("US", "A")) ++ Seq.fill(3)(("US", "B")) ++
      Seq.fill(10)(("DE", "A"))).toDF("nat", "seg")
    val r = Quality.kAnonymityAudit(df, Seq("nat", "seg"), 10).collect()
      .map(x => (x.getString(0), x.getString(1)) -> (x.getLong(2), x.getInt(3))).toMap
    assert(r(("US", "A")) === ((12L, 0)))
    assert(r(("US", "B")) === ((3L, 1)))
    assert(r(("DE", "A")) === ((10L, 0)))
  }

  test("asciiProfile: control and unicode chars counted, ratio flags") {
    import spark.implicits._
    val docs = Seq(
      (1L, "clean ascii text"),
      (2L, "tab\there"),              // 1 non-printable
      (3L, "café résumé") // 3 non-ascii letters
    ).toDF("doc_id", "text")
    val r = TextOps.asciiProfile(docs, 0.05).collect()
      .map(x => x.getLong(0) -> (x.getLong(2), x.getInt(4))).toMap
    assert(r(1L) === ((0L, 0)))
    assert(r(2L) === ((1L, 1))) // 1/8 > 5%
    assert(r(3L) === ((3L, 1)))
  }

  test("hardNegatives: neighbours never share the query label") {
    val e = t("embeddings")
    val labels = e.select(col("vec_id"), col("label")).collect()
      .map(r => r.getLong(0) -> r.getInt(1)).toMap
    val r = Similarity.hardNegatives(e, nQueries = 5, k = 3).collect()
    assert(r.nonEmpty)
    r.foreach { row =>
      val q = row.getAs[Long]("query_id"); val v = row.getAs[Long]("vec_id")
      assert(labels(q) !== labels(v), s"query $q and neighbour $v share a label")
      assert(v >= 5L)
    }
    // exactly k rows per query
    assert(r.groupBy(_.getAs[Long]("query_id")).values.forall(_.length === 3))
  }

  test("hardNegatives: one-pass kernel equals the per-label knnJoin union, rows and order") {
    // the pre-r11 shape: one knnJoin per distinct query label, each
    // over the corpus minus that label, unioned and totally ordered
    def perLabel(embeddings: org.apache.spark.sql.DataFrame, nQueries: Int, k: Int)
        : org.apache.spark.sql.DataFrame = {
      val qs = embeddings.filter(col("vec_id") < nQueries)
        .select(col("vec_id"), col("embedding"), col("label"))
      val labels = qs.select(col("label").cast("int")).distinct()
        .collect().map(_.getInt(0)).sorted
      labels.map { l =>
        Similarity.knnJoin(
          embeddings.filter(col("vec_id") >= nQueries && col("label") =!= l),
          qs.filter(col("label") === l), k)
      }.reduce(_ unionAll _)
        .orderBy(col("query_id"), col("cos_sim").desc, col("vec_id"))
    }
    val e = t("embeddings")
    for ((nQ, k) <- Seq((5, 3), (8, 5))) {
      val want = perLabel(e, nQ, k).collect().toSeq
      val got = Similarity.hardNegatives(e, nQ, k).collect().toSeq
      assert(want.nonEmpty)
      assert(got === want, s"mismatch at nQueries=$nQ k=$k")
    }
  }

  test("basket combo kernel rejects a >1023-code dictionary (10-bit packing guard)") {
    import spark.implicits._
    // 1030 distinct brands mint codes past 1022; a small basket holding
    // the two HIGHEST codes slips through the basket-size cap, so only
    // the code-VALUE check can stop the silent packed-key collision.
    val nb = 1030
    val part = (1 to nb).map(i => (i.toLong, f"b$i%04d")).toDF("p_partkey", "p_brand")
    val li = Seq((1L, (nb - 1).toLong), (1L, nb.toLong)).toDF("l_orderkey", "l_partkey")
    val (baskets, dim) = Aggregates.brandBasketFrame(li, part, maxBasket = 15)
    val e = intercept[Exception] {
      Aggregates.basketRules(baskets, dim, minSupport = 1, k = 10).collect()
    }
    def msgs(t: Throwable): Seq[String] =
      if (t == null) Nil else Option(t.getMessage).toSeq ++ msgs(t.getCause)
    assert(msgs(e).exists(_.contains("10-bit")), s"unexpected failure: $e")
  }

  test("basketRules: confidence and lift from known baskets") {
    import spark.implicits._
    // brands X,Y co-occur in 2 of 4 baskets; X alone in 1 more
    val li = Seq((1L, 101L), (1L, 102L), (2L, 101L), (2L, 102L),
      (3L, 101L), (4L, 103L)).toDF("l_orderkey", "l_partkey")
    val part = Seq((101L, "X"), (102L, "Y"), (103L, "Z")).toDF("p_partkey", "p_brand")
    val (baskets, dim) = Aggregates.brandBasketFrame(li, part, maxBasket = 15)
    val r = Aggregates.basketRules(baskets, dim, minSupport = 1, k = 10)
      .collect()
    val xy = r.find(x => x.getAs[String]("brand_a") == "X" && x.getAs[String]("brand_b") == "Y").get
    assert(xy.getAs[Long]("n_ab") === 2L && xy.getAs[Long]("n_a") === 3L && xy.getAs[Long]("n_b") === 2L)
    // conf X->Y = 2/3, conf Y->X = 1, lift = 2*4/(3*2) = 1.3333
    assert(xy.getAs[Double]("conf_ab4") === 0.6666)
    assert(xy.getAs[Double]("conf_ba4") === 1.0)
    assert(xy.getAs[Double]("lift4") === 1.3333)
  }

  test("returnRate7d: returners within horizon counted, edge day excluded") {
    import spark.implicits._
    // user 1 active day 0 and day 7 (returns), user 2 day 0 and day 8 (no),
    // user 3 day 0 only
    val ev = Seq((1L, "2024-01-01"), (1L, "2024-01-08"),
      (2L, "2024-01-01"), (2L, "2024-01-09"), (3L, "2024-01-01"))
      .toDF("user_id", "day")
      .select(col("user_id"), col("day").cast("timestamp").as("ts"))
    val r = Events.returnRate7d(ev).collect()
      .map(x => x.getLong(0) -> (x.getLong(1), x.getLong(2), x.getDouble(3))).toMap
    val day0 = r.keys.min
    assert(r(day0) === ((3L, 1L, 0.3333)))
  }

  test("winnowingPairs: shared long run guarantees a shared fingerprint") {
    import spark.implicits._
    val shared = (1 to 12).map(i => s"common$i").mkString(" ")
    val docs = Seq(
      (1L, s"alpha beta $shared gamma delta"),
      (2L, s"one two three $shared four"),
      (3L, "totally different words here nothing in common at all today")
    ).toDF("doc_id", "text")
    val r = Dedup.winnowingPairs(docs, k = 5, w = 4, minShared = 1, topK = 10).collect()
    val pairs = r.map(x => (x.getLong(0), x.getLong(1))).toSet
    assert(pairs.contains((1L, 2L))) // winnowing guarantee: k+w-1 = 8 < 12
    assert(!pairs.exists(p => p._1 == 3L || p._2 == 3L))
  }

  test("winnowingPairs df cap bounds the hot-fingerprint pair fan-out") {
    import spark.implicits._
    // One boilerplate run (license header / nav chrome) shared by ALL
    // docs: its selected fingerprints have df = d, so the self-join
    // alone enumerates C(d,2) pairs — winnowing's 1/w subsample thins
    // volume but does NOT dedupe a fingerprint across docs. The cap
    // drops the hot posting lists and the pair count collapses.
    val d = 40
    val shared = (1 to 12).map(i => s"common$i").mkString(" ")
    val docs = (0 until d).map(i =>
      (i.toLong, s"u${i}a u${i}b $shared u${i}c")).toDF("doc_id", "text")
    val uncapped = Dedup.winnowingPairs(docs, k = 5, w = 4,
      minShared = 1, topK = 10000)
    assert(uncapped.count() === d.toLong * (d - 1) / 2)
    assert(Dedup.winnowingPairs(docs, k = 5, w = 4, minShared = 1,
      topK = 10000, maxDocFreq = Some(5L)).count() === 0)
    // loose cap (above every df) + singleton pruning: EXACT no-op on
    // the real fixture — the safe always-on production setting
    val fix = t("documents")
    def rows(prune: Boolean, cap: Option[Long]) =
      Dedup.winnowingPairs(fix, pruneSingletons = prune, maxDocFreq = cap)
        .collect().map(_.toSeq).toSet
    val full = rows(prune = false, cap = None)
    assert(full.nonEmpty)
    assert(rows(prune = true, cap = Some(100000L)) === full)
  }

  test("termBurstiness: clumped term outranks evenly spread term") {
    import spark.implicits._
    // 'bursty' appears 5x in each of 20 docs; 'even' once in each of 20
    val docs = (1 to 20).map { i =>
      (i.toLong, (Seq.fill(5)("bursty") ++ Seq("even") ++ Seq(s"pad$i")).mkString(" "))
    }.toDF("doc_id", "text")
    val r = TextOps.termBurstiness(docs, minDocs = 20, k = 10).collect()
    val m = r.map(x => x.getString(0) -> x.getAs[Double]("burstiness4")).toMap
    // all counts equal within each term -> variance 0 -> burstiness 0
    assert(m("bursty") === 0.0 && m("even") === 0.0)
    // add a clumped term: 10x in one doc, 1x in the 19 others
    val docs2 = (1 to 20).map { i =>
      val n = if (i == 1) 10 else 1
      (i.toLong, (Seq.fill(n)("clump") ++ Seq.fill(2)("flat")).mkString(" "))
    }.toDF("doc_id", "text")
    val r2 = TextOps.termBurstiness(docs2, minDocs = 20, k = 10).collect()
      .map(x => x.getString(0) -> x.getAs[Double]("burstiness4")).toMap
    assert(r2("clump") > r2("flat"))
    assert(r2("flat") === 0.0)
  }

  test("searchPhrase: adjacency required, occurrences counted") {
    import spark.implicits._
    val docs = Seq(
      (1L, "merge scan x merge scan"), // two adjacent occurrences
      (2L, "merge x scan"),            // both terms, not adjacent
      (3L, "scan merge")               // wrong order
    ).toDF("doc_id", "text")
    val r = TextOps.searchPhrase(docs, "merge", "scan", 10).collect()
    assert(r.length === 1)
    assert(r.head.getAs[Long]("doc_id") === 1L && r.head.getAs[Long]("n_occurrences") === 2L)
  }

  test("benfordFirstDigit: digits from the exact ladder, shares sum to 1") {
    import spark.implicits._
    val df = Seq(1.5, 19.0, 123.0, 950.0, 2.0, 29999.0, 1e6).map(Tuple1(_)).toDF("x")
    val r = Aggregates.benfordFirstDigit(df, "x").collect()
    val byDigit = r.map(x => x.getAs[Long]("digit") -> x.getAs[Long]("n")).toMap
    assert(byDigit === Map(1L -> 4L, 2L -> 2L, 9L -> 1L))
    assert(math.abs(r.map(_.getAs[Double]("share4")).sum - 1.0) < 1e-3)
    val d1 = r.find(_.getAs[Long]("digit") == 1L).get
    assert(d1.getAs[Double]("benford4") === 0.301)
  }

  test("pcaTopComponent: recovers the dominant axis of an anisotropic cloud") {
    import spark.implicits._
    // variance 4 on dim0 (+-2), ~0 on dim1: top PC is e0, eigval ~4
    val e = (1 to 20).map(i =>
      (i.toLong, Array(if (i % 2 == 0) 2f else -2f, 0.01f * (i % 3)))).toDF("vec_id", "embedding")
    val r = Similarity.pcaTopComponent(e, 3).collect()
    assert(r.length === 2)
    val l0 = math.abs(r(0).getAs[Double]("loading4"))
    assert(l0 > 0.99, s"dim0 loading $l0 should dominate")
    assert(math.abs(r(1).getAs[Double]("loading4")) < 0.1)
    val ev = r.head.getAs[Double]("eigval4")
    assert(ev > 3.5 && ev < 4.5, s"eigval $ev should approximate var=4")
  }

  test("ewmaDailyRevenue: matches the recursive definition on a constant series") {
    import spark.implicits._
    // three consecutive days, 100.00/day: ewma_t = 100*(1 - 0.9^(t+1))
    val orders = Seq(
      ("1995-01-01", 60.0), ("1995-01-01", 40.0),
      ("1995-01-02", 100.0), ("1995-01-03", 100.0))
      .toDF("o_orderdate", "o_totalprice")
      .select(col("o_orderdate").cast("timestamp").as("o_orderdate"), col("o_totalprice"))
    val r = Aggregates.ewmaDailyRevenue(orders).collect()
    assert(r.length === 3)
    assert(r.forall(_.getAs[Double]("revenue") === 100.0))
    val expected = Seq(10.0, 19.0, 27.1)
    r.zip(expected).foreach { case (row, e) =>
      assert(math.abs(row.getAs[Double]("ewma4") - e) < 1.1e-4,
        s"day ${row.get(0)}: ${row.getAs[Double]("ewma4")} vs $e")
    }
  }

  test("graft_sqdist: exact on integers, null propagation, codegen composition") {
    import spark.implicits._
    graft.ext.expr.ArrayDotProduct.ensureRegistered(spark)
    val df = Seq((Array(1.0, 2.0), Array(3.0, 5.0))).toDF("a", "b")
    val d = df.select(call_function("graft_sqdist", col("a"), col("b")).as("d")).head().getDouble(0)
    assert(d === 13.0) // (1-3)^2 + (2-5)^2, exact in doubles
    val withNull = Seq((Array[java.lang.Double](1.0, null), Array[java.lang.Double](1.0, 1.0)))
      .toDF("a", "b")
      .select(call_function("graft_sqdist", col("a"), col("b")).as("d"))
    assert(withNull.head().isNullAt(0))
  }

  test("abTestConversion: users partitioned, conversions bounded, chi2 finite") {
    val r = Events.abTestConversion(t("events")).head()
    val ev = Events.normalizeTs(t("events"))
    val nUsers = ev.select("user_id").distinct().count()
    assert(r.getAs[Long]("users_a") + r.getAs[Long]("users_b") === nUsers)
    assert(r.getAs[Long]("conv_a") <= r.getAs[Long]("users_a"))
    assert(r.getAs[Long]("conv_b") <= r.getAs[Long]("users_b"))
    assert(r.getAs[Double]("chi2_4") >= 0.0)
    // synthetic uniform traffic: the hash split should be near 50/50
    val ratio = r.getAs[Long]("users_a").toDouble / nUsers
    assert(ratio > 0.4 && ratio < 0.6, s"suspicious split $ratio")
  }

  test("customerSpendPercentiles: pr in [0,1], deciles balanced within 1") {
    val r = Aggregates.customerSpendPercentiles(t("orders")).collect()
    assert(r.forall(x => x.getAs[Double]("pr4") >= 0.0 && x.getAs[Double]("pr4") <= 1.0))
    val deciles = r.groupBy(_.getAs[Long]("decile")).view.mapValues(_.length).toMap
    assert(deciles.keySet === (1L to 10L).toSet)
    assert(deciles.values.max - deciles.values.min <= 1, s"ntile imbalance: $deciles")
    // max spender has pr = 1
    val top = r.maxBy(_.getAs[Double]("total_spend"))
    assert(top.getAs[Double]("pr4") === 1.0 && top.getAs[Long]("decile") === 10L)
  }

  test("customerSpendPercentiles: range-partitioned rank equals the single-window formulation") {
    import spark.implicits._
    import org.apache.spark.sql.expressions.{Window => W}
    // sizes straddle every ntile(10) remainder class (n % 10 = 0..9),
    // n < k, and n == 1 — the boundary cases of the SQL NTILE padding
    // rule the rank-arithmetic rewrite must reproduce bit-for-bit.
    // Two modes: the default stats-gated small path (single-kernel
    // rank) and the forced WIDE path (advisory=1 byte pushes every
    // frame over the volume gate, exercising the range-partition +
    // broadcast offsets machinery). The reference is the
    // single-partition Window formulation computed below.
    val modes = Seq(
      "small" -> (() => {}),
      "wide" -> (() => spark.conf
        .set("spark.sql.adaptive.advisoryPartitionSizeInBytes", "1")))
    for ((mode, set) <- modes; n <- Seq(1, 3, 7, 10, 11, 19, 20, 23, 64, 100))
      try {
        set()
      val orders = (1 to n).map(i => (i.toLong, ((i * 37) % 50 + 1).toDouble))
        .toDF("o_custkey", "o_totalprice")
      val got = Aggregates.customerSpendPercentiles(orders)
        .collect().map(r => (r.getLong(0), r.getDouble(1), r.getDouble(2), r.getLong(3)))
      val w = W.orderBy(col("cents"), col("o_custkey"))
      val want = orders.groupBy(col("o_custkey"))
        .agg(sum(round(col("o_totalprice") * 100)).cast("long").as("cents"))
        .select(col("o_custkey"),
          (col("cents").cast("double") / 100.0).as("total_spend"),
          (floor(percent_rank().over(w) * 1e4) / 1e4).as("pr4"),
          ntile(10).over(w).cast("long").as("decile"))
        .orderBy(col("o_custkey"))
        .collect().map(r => (r.getLong(0), r.getDouble(1), r.getDouble(2), r.getLong(3)))
      assert(got.toSeq === want.toSeq, s"mismatch at n=$n mode=$mode")
    } finally {
      spark.conf.unset("spark.sql.adaptive.advisoryPartitionSizeInBytes")
    }
  }

  test("abcClassification/spearmanSpend: range-partitioned cumsum equals the single-window formulation") {
    import spark.implicits._
    // withGlobalCumSum backs both consumers (decimal cents in abc, long
    // counts in spearman's rank2). Two modes, small = the reference;
    // sizes straddle 1 row, fewer rows than partitions, and
    // multi-partition frames under the forced-wide gate.
    val modes = Seq(
      "small" -> (() => {}),
      "wide" -> (() => spark.conf
        .set("spark.sql.adaptive.advisoryPartitionSizeInBytes", "1")))
    def canon(rows: Array[org.apache.spark.sql.Row]): Seq[Seq[Any]] =
      rows.toSeq.map(_.toSeq)
    for (n <- Seq(1, 2, 7, 33, 100)) {
      val li = (1 to n).map(i =>
        (i.toLong % 11, 10.0 + (i * 37) % 97, ((i * 13) % 10) / 100.0))
        .toDF("l_partkey", "l_extendedprice", "l_discount")
      val orders = (1 to n).map(i =>
        (i.toLong % 17, 100.0 + (i * 53) % 211)).toDF("o_custkey", "o_totalprice")
      val got = modes.map { case (mode, set) =>
        try {
          set()
          (mode, canon(Aggregates.abcClassification(li).collect()),
            canon(Aggregates.spearmanSpend(orders).collect()))
        } finally {
          spark.conf.unset("spark.sql.adaptive.advisoryPartitionSizeInBytes")
        }
      }
      // below the volume gate withGlobalCumSum IS the single-partition window
      val (_, abcRef, spRef) = got.head
      for ((mode, abc, sp) <- got) {
        assert(abc === abcRef, s"abc mismatch at n=$n mode=$mode")
        assert(sp === spRef, s"spearman mismatch at n=$n mode=$mode")
      }
    }
  }

  test("robustAnomalyDays: flags only beyond the modified-z cutoff, resists contamination") {
    import spark.implicits._
    // 29 quiet days at ~100 plus one 10x day: mean/sigma would be
    // dragged; median/MAD flags exactly the spike
    val rows = (1 to 29).map(i => (f"1995-01-$i%02d", 100.0 + (i % 3))) :+ ("1995-01-30", 1000.0)
    val orders = rows.toDF("o_orderdate", "o_totalprice")
      .select(col("o_orderdate").cast("timestamp").as("o_orderdate"), col("o_totalprice"))
    val r = Aggregates.robustAnomalyDays(orders).collect()
    assert(r.length === 1)
    assert(r.head.getAs[java.sql.Date]("day").toString === "1995-01-30")
    assert(r.head.getAs[Double]("z4") > 3.0)
  }

  test("revenueGini and revenueLorenz: closed-form check on a known distribution") {
    import spark.implicits._
    // spends 1.00, 1.00, 2.00, 6.00 -> G = (2*33 - 5*10)/(4*10) = 0.4
    val orders = Seq((1L, 1.0), (2L, 1.0), (3L, 2.0), (4L, 6.0))
      .toDF("o_custkey", "o_totalprice")
    val g = Aggregates.revenueGini(orders).head()
    assert(g.getAs[Long]("n_customers") === 4L)
    assert(g.getAs[Double]("total_revenue") === 10.0)
    assert(g.getAs[Double]("gini4") === 0.4)
    assert(g.getAs[Double]("top20_share4") === 0.6) // only rank 4 of 4 passes 5r > 4n
    val l = Aggregates.revenueLorenz(orders).collect()
    assert(math.abs(l.map(_.getAs[Double]("share4")).sum - 1.0) < 1e-2)
    assert(l.last.getAs[Double]("cum_share4") === 1.0)
    val shares = l.map(_.getAs[Double]("cum_share4"))
    assert(shares.sameElements(shares.sorted), "cumulative share must be monotone")
  }

  test("revenueTrendOls: exact fit on a perfectly linear series") {
    import spark.implicits._
    // 1.00, 2.00, 3.00 on consecutive days: slope 1/day, intercept 1, r2 1
    val orders = Seq(("1995-03-01", 1.0), ("1995-03-02", 2.0), ("1995-03-03", 3.0))
      .toDF("o_orderdate", "o_totalprice")
      .select(col("o_orderdate").cast("timestamp").as("o_orderdate"), col("o_totalprice"))
    val r = Aggregates.revenueTrendOls(orders).head()
    assert(r.getAs[Long]("n_days") === 3L)
    assert(r.getAs[Double]("slope_per_day4") === 1.0)
    assert(r.getAs[Double]("intercept4") === 1.0)
    assert(r.getAs[Double]("r2_4") === 1.0)
  }

  test("revenueChangepoints: the level-shift day carries the extreme CUSUM") {
    import spark.implicits._
    // 10 days at 100 then 10 days at 200: |CUSUM| peaks at the shift
    val rows = (1 to 20).map(i => (f"1995-04-$i%02d", if (i <= 10) 100.0 else 200.0))
    val orders = rows.toDF("o_orderdate", "o_totalprice")
      .select(col("o_orderdate").cast("timestamp").as("o_orderdate"), col("o_totalprice"))
    val r = Aggregates.revenueChangepoints(orders).collect()
    assert(r.length === 5)
    assert(r.head.getAs[java.sql.Date]("day").toString === "1995-04-10")
    assert(r.head.getAs[Double]("cusum4") < 0) // below-mean run bottoms out at the shift
  }

  test("normHistogram: buckets from exact norms") {
    import spark.implicits._
    val e = Seq((1L, Array(3f, 4f)), (2L, Array(0f, 0f)), (3L, Array(3f, 4f)))
      .toDF("vec_id", "embedding")
    val r = Similarity.normHistogram(e).collect()
    val m = r.map(x => x.getAs[Long]("bucket") -> x.getAs[Long]("n")).toMap
    assert(m === Map(50L -> 2L, 0L -> 1L)) // |(3,4)| = 5 -> bucket 50
  }

  test("ksSplitDrift: 0 on identical distributions, 1 on disjoint ones") {
    import spark.implicits._
    val ids = (0L until 500L).map(Tuple1(_)).toDF("doc_id")
    val assigned = Curation.splitAssign(ids, "doc_id")
      .select(col("doc_id"), col("split")).collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    // identical: every doc has the same value -> D = 0
    val same = (0L until 500L).map(i => (i, 7L)).toDF("doc_id", "n_chars")
    val r0 = Curation.ksSplitDrift(same, "doc_id", "n_chars").head()
    assert(r0.getAs[Double]("ks4") === 0.0)
    assert(r0.getAs[Long]("n_train") + r0.getAs[Long]("n_test") <= 500L)
    // disjoint: test docs get value 1, others 0 -> D = 1
    val disj = (0L until 500L)
      .map(i => (i, if (assigned(i) == "test") 1L else 0L)).toDF("doc_id", "n_chars")
    val r1 = Curation.ksSplitDrift(disj, "doc_id", "n_chars").head()
    assert(r1.getAs[Double]("ks4") === 1.0)
    assert(r1.getAs[Long]("at_value") === 0L) // gap peaks after the train-only value
  }

  test("winsorizedMean: clipping pulls the mean toward the fences, counts add up") {
    import spark.implicits._
    // group A: 1..19 plus an outlier 1000 -> winsorized mean well below raw
    val df = ((1 to 19).map(_.toDouble) :+ 1000.0).map(v => ("A", v)).toDF("g", "v")
    val r = Aggregates.winsorizedMean(df, "v", "g").head()
    assert(r.getAs[Long]("n") === 20L)
    assert(r.getAs[Long]("n_lo") + r.getAs[Long]("n_hi") >= 1L)
    assert(r.getAs[Double]("winsor_mean4") < r.getAs[Double]("mean4"))
    assert(r.getAs[Double]("winsor_mean4") > 0.0)
  }

  test("termLift: independent terms near lift 1, perfectly-coupled pair at the top") {
    import spark.implicits._
    // 'x' and 'y' always co-occur in half the docs; fillers everywhere
    val docs = (1 to 40).map { i =>
      val base = "a b c"
      (i.toLong, if (i % 2 == 0) s"$base x y" else base)
    }.toDF("doc_id", "text")
    val r = TextOps.termLift(docs, minSupport = 10, k = 10).collect()
    val xy = r.find(t => t.getAs[String]("term_a") == "x" && t.getAs[String]("term_b") == "y").get
    // P(x,y)/(P(x)P(y)) = 0.5/(0.5*0.5) = 2
    assert(xy.getAs[Double]("lift4") === 2.0)
    assert(r.head.getAs[Double]("lift4") === 2.0, "coupled pair ranks first")
    val ab = r.find(t => t.getAs[String]("term_a") == "a" && t.getAs[String]("term_b") == "b").get
    assert(ab.getAs[Double]("lift4") === 1.0)
  }

  test("monthlyRevenueTrend: one row per month, revenue conserved, growth matches adjacent months") {
    val orders = t("orders")
    val r = Aggregates.monthlyRevenueTrend(orders).collect()
    val nMonths = orders
      .select(date_trunc("month", col("o_orderdate")).as("mo")).distinct().count()
    assert(r.length === nMonths)
    assert(r.head.isNullAt(r.head.fieldIndex("growth")), "first month has no prior to grow from")
    val total = orders.select(
      (sum(round(col("o_totalprice") * 100).cast("long")).cast("double") / 100.0).as("t"))
      .head().getDouble(0)
    assert(math.abs(r.map(_.getAs[Double]("revenue")).sum - total) < 1e-6)
    // spot-check growth against the revenue series itself (trunc-toward-
    // negative-infinity at 4 decimals, same as Num.trunc4)
    r.sliding(2).foreach {
      case Array(a, b) =>
        val g = math.floor((b.getAs[Double]("revenue") - a.getAs[Double]("revenue")) /
          a.getAs[Double]("revenue") * 10000) / 10000.0
        assert(math.abs(b.getAs[Double]("growth") - g) < 1.5e-4,
          s"growth mismatch at month ${b.getAs[Long]("month_epoch")}")
      case _ =>
    }
  }

  test("conversionLagHistogram: buckets within 24h, counts bounded by purchases") {
    val ev = t("events")
    val r = Events.conversionLagHistogram(ev).collect()
    assert(r.nonEmpty)
    r.foreach { row =>
      val b = row.getAs[Long]("bucket_30m")
      assert(b >= 0 && b < 48)
    }
    val nPurch = ev.filter(col("event_type") === "purchase").count()
    assert(r.map(_.getAs[Long]("n_purchases")).sum <= nPurch)
  }

  test("orderedFunnel: step counts are monotone and bounded by view users") {
    val r = Events.orderedFunnel(t("events")).collect()
    assert(r.nonEmpty)
    r.foreach { row =>
      val (v, c, p) = (row.getLong(1), row.getLong(2), row.getLong(3))
      assert(c <= v && p <= c)
    }
  }

  test("vocabGrowth: final vocab equals corpus distinct terms, curve monotone") {
    val docs = t("documents")
    val r = Curation.vocabGrowth(docs).collect()
    val distinctTerms = docs
      .select(explode(split(col("text"), " ")).as("t")).distinct().count()
    assert(r.last.getAs[Long]("vocab_size") === distinctTerms)
    val sizes = r.map(_.getAs[Long]("vocab_size"))
    assert(sizes.zip(sizes.tail).forall { case (a, b) => a < b || a == b })
    assert(r.map(_.getAs[Long]("new_terms")).sum === distinctTerms)
  }

  test("dayOfWeekProfile: dow in [0,6], counts sum to total") {
    val ev = t("events")
    val r = Events.dayOfWeekProfile(ev)
    assert(r.select(sum("n")).head().getLong(0) === ev.count())
    assert(r.filter(col("dow") < 0 || col("dow") > 6).count() === 0)
  }

  test("hourOfDayProfile: 24 hours max per type, counts sum to total") {
    val ev = t("events")
    val r = Events.hourOfDayProfile(ev)
    assert(r.select(sum("n")).head().getLong(0) === ev.count())
    val hours = r.groupBy("event_type").count().collect()
    hours.foreach(row => assert(row.getLong(1) <= 24))
  }

  test("pageRank: mass conserved, star center outranks leaves") {
    import spark.implicits._
    // star: 1 is paired with 2..5; undirected expansion
    val pairs = Seq((1L, 2L), (1L, 3L), (1L, 4L), (1L, 5L)).toDF("doc_a", "doc_b")
    val r = Graph.pageRank(pairs, "doc_a", "doc_b", iters = 3).collect()
    assert(r.length === 5)
    val m = r.map(x => x.getAs[Long]("node") -> x.getAs[Double]("rank_x_n")).toMap
    // total rank stays 1 (rank_x_n sums to N) up to trunc4 loss
    assert(math.abs(m.values.sum - 5.0) < 5e-3)
    assert(m(1L) > m(2L) * 2) // hub dominates
    assert((2L to 5L).map(m).distinct.size === 1) // leaves symmetric
    // driver fast path == distributed loop (driverEdgeMax = 0 forces it)
    val dist = Graph.pageRank(pairs, "doc_a", "doc_b", iters = 3, driverEdgeMax = 0L)
      .collect().map(x => x.getAs[Long]("node") -> x.getAs[Double]("rank_x_n")).toMap
    assert(dist === m)
  }

  test("topPaths: triple counts consistent with transition pair counts") {
    val ev = t("events")
    // total triples = sum over users of max(0, n_u - 2)
    val perUser = ev.groupBy("user_id").count().collect().map(_.getLong(1))
    val expected = perUser.map(n => math.max(0L, n - 2)).sum
    val all = Events.topPaths(ev, k = 1000000).collect()
    assert(all.map(_.getAs[Long]("n")).sum === expected)
    val counts = all.map(_.getAs[Long]("n"))
    assert(counts.sameElements(counts.sorted.reverse)) // ranked output
  }

  test("sourceDrift: identical-distribution groups score near zero") {
    import spark.implicits._
    // two sources with the SAME term distribution -> expected == observed
    val docs = Seq(
      (1L, "a b c d", "s1"), (2L, "a b c d", "s2"),
      (3L, "a a b b", "s1"), (4L, "a a b b", "s2"))
      .toDF("doc_id", "text", "source")
    val r = Curation.sourceDrift(docs).collect()
    assert(r.length === 2)
    r.foreach(row => assert(math.abs(row.getAs[Double]("chi2")) < 1e-9))
    // a clearly shifted source scores higher than a matching one
    val skew = Seq((1L, "a a a a", "s1"), (2L, "b b b b", "s2"),
      (3L, "a b a b", "s3")).toDF("doc_id", "text", "source")
    val chi = Curation.sourceDrift(skew).collect()
      .map(x => x.getString(0) -> x.getAs[Double]("chi2")).toMap
    assert(chi("s1") > chi("s3") && chi("s2") > chi("s3"))
  }

  test("tableDiff: hand-built versions produce exact status counts") {
    import spark.implicits._
    val a = Seq((1L, "x"), (2L, "y"), (3L, "z")).toDF("k", "v")
    val b = Seq((1L, "x"), (2L, "CHANGED"), (4L, "new")).toDF("k", "v")
    val r = Quality.tableDiff(a, b, "k", concat_ws("|", col("k"), col("v")))
      .collect().map(x => x.getString(0) -> x.getLong(1)).toMap
    assert(r === Map("added" -> 1L, "removed" -> 1L, "changed" -> 1L, "same" -> 1L))
  }

  test("rebalanceSample: hits targets, saturates below-target groups, subset of corpus") {
    val docs = t("documents")
    val counts = docs.groupBy("lang").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    val total = counts.values.sum
    val r = Curation.rebalanceSample(docs, "lang", "doc_id",
      Map("en" -> 300), defaultPerMille = 50)
    val kept = r.groupBy("lang").count().collect()
      .map(x => x.getString(0) -> x.getLong(1)).toMap
    counts.foreach { case (lang, nG) =>
      val pm = if (lang == "en") 300L else 50L
      val target = total * pm / 1000
      val k = kept.getOrElse(lang, 0L)
      assert(k <= nG)
      if (target >= nG) assert(k === nG) // saturation: keep everything
      else {
        // kept count is binomial around target: allow a 3-sigma band
        val band = 3 * math.sqrt(target.toDouble) + 2
        assert(math.abs(k - target) <= band, s"$lang kept $k of target $target")
      }
    }
  }

  test("contentChecksum: order/partitioning-invariant, detects a changed row") {
    import spark.implicits._
    val a = Seq((1L, "x"), (2L, "y"), (3L, "z")).toDF("k", "v")
    val canon = concat_ws("|", col("k"), col("v"))
    val d1 = Quality.contentChecksum(a, canon).head()
    val d2 = Quality.contentChecksum(a.orderBy(col("k").desc).repartition(7), canon).head()
    assert(d1.getLong(0) === 3L && d1 === d2)
    val b = Seq((1L, "x"), (2L, "y"), (3L, "CHANGED")).toDF("k", "v")
    assert(Quality.contentChecksum(b, canon).head().getLong(1) !== d1.getLong(1))
  }

  test("corrProfile: linear columns correlate to 1") {
    import spark.implicits._
    val li = (1 to 100).map(i =>
      (i.toDouble % 17, (i.toDouble % 17) * 2.0 + 5.0, 0.05, "A"))
      .toDF("l_quantity", "l_extendedprice", "l_discount", "l_returnflag")
    val r = Aggregates.corrProfile(li).collect()
    assert(r.length === 1)
    assert(r.head.getAs[Double]("corr_qty_price") >= 0.9999)
    assert(r.head.getAs[Long]("n") === 100L)
  }

  test("searchPhraseN: full n-token run required, interruptions rejected") {
    import spark.implicits._
    val docs = Seq(
      (1L, "slow hash batch y slow hash batch"), // two full runs
      (2L, "slow hash x batch"),                 // broken after 2 tokens
      (3L, "slow hash"),                         // prefix only
      (4L, "batch hash slow")                    // wrong order
    ).toDF("doc_id", "text")
    val r = TextOps.searchPhraseN(docs, Seq("slow", "hash", "batch"), 10).collect()
    assert(r.length === 1)
    assert(r.head.getAs[Long]("doc_id") === 1L &&
      r.head.getAs[Long]("n_occurrences") === 2L)
    // degenerate 2-token form agrees with the specialized searchPhrase
    val a = TextOps.searchPhraseN(t("documents"), Seq("merge", "scan"), 20).collect()
    val b = TextOps.searchPhrase(t("documents"), "merge", "scan", 20).collect()
    assert(a.map(x => (x.getLong(0), x.getLong(1))).toSeq ===
      b.map(x => (x.getLong(0), x.getLong(1))).toSeq)
  }

  test("lexicalProfile: exact counts on a hand corpus") {
    import spark.implicits._
    val docs = Seq(
      (1L, "a a b", "en"), (2L, "b c", "en"), // en: 5 tokens, types {a,b,c}, hapax {c}
      (3L, "x x", "fr")                       // fr: 2 tokens, 1 type, 0 hapax
    ).toDF("doc_id", "text", "lang")
    val r = TextOps.lexicalProfile(docs).collect()
    val en = r.find(_.getAs[String]("lang") == "en").get
    assert(en.getAs[Long]("n_tokens") === 5L && en.getAs[Long]("n_types") === 3L &&
      en.getAs[Long]("n_hapax") === 1L)
    assert(en.getAs[Double]("ttr4") === 0.6)
    val fr = r.find(_.getAs[String]("lang") == "fr").get
    assert(fr.getAs[Long]("n_hapax") === 0L && fr.getAs[Double]("hapax4") === 0.0)
  }

  test("equalFrequencyBinsByGroup: each group tiers against its own distribution") {
    import spark.implicits._
    // group A: values 1..8 uniform; group B: values 101..104
    val df = ((1 to 8).map(v => ("A", v.toLong)) ++ (101 to 104).map(v => ("B", v.toLong)))
      .toDF("g", "v")
    val r = Curation.equalFrequencyBinsByGroup(df, "v", "g", 4).collect()
    val a = r.filter(_.getAs[String]("g") == "A")
    val b = r.filter(_.getAs[String]("g") == "B")
    assert(a.length === 4 && b.length === 4)
    // rows conserved per group, bin ranges disjoint and ordered within group
    assert(a.map(_.getAs[Long]("n_rows")).sum === 8L)
    assert(b.map(_.getAs[Long]("n_rows")).sum === 4L)
    a.sortBy(_.getAs[Long]("bin")).sliding(2).foreach {
      case Array(lo, hi) => assert(lo.getAs[Long]("hi") < hi.getAs[Long]("lo"))
      case _ =>
    }
    // B's quartiles reflect B's own domain, not the global one
    assert(b.forall(_.getAs[Long]("lo") >= 101L))
  }

  test("zipfSlope: exact -1 slope on a perfect two-point Zipf corpus") {
    import spark.implicits._
    // term a: 4 occurrences (rank 1), term b: 2 (rank 2):
    // slope = (ln2 - ln4)/(ln2 - ln1) = -1, intercept = ln(4)
    val docs = Seq((1L, "a a a a b b")).toDF("doc_id", "text")
    val r = TextOps.zipfSlope(docs, 10).head()
    assert(r.getAs[Long]("n_terms") === 2L)
    assert(r.getAs[Double]("slope4") === -1.0)
    assert(math.abs(r.getAs[Double]("intercept4") - 1.3862) < 1e-9)
  }

  test("revenueAutocorr: alternating series gives the closed-form lags") {
    import spark.implicits._
    // daily cents 100,200,100,200 -> devs -2,+2,-2,+2 (scaled):
    // ac1 = -0.75, ac2 = +0.5, ac3 = -0.25
    val orders = Seq(
      ("1995-01-01", 100.0), ("1995-01-02", 200.0),
      ("1995-01-03", 100.0), ("1995-01-04", 200.0))
      .toDF("o_orderdate", "o_totalprice")
      .select(col("o_orderdate").cast("timestamp").as("o_orderdate"), col("o_totalprice"))
    val r = Aggregates.revenueAutocorr(orders, 3).collect()
    assert(r.map(_.getAs[Long]("k")).toSeq === Seq(1L, 2L, 3L))
    assert(r.map(_.getAs[Long]("n_pairs")).toSeq === Seq(3L, 2L, 1L))
    assert(r.map(_.getAs[Double]("ac4")).toSeq === Seq(-0.75, 0.5, -0.25))
  }

  test("paretoFrontier: dominance with ties on both axes") {
    import spark.implicits._
    val df = Seq(
      ("g", 1L, 5L, "keep-dup1"), ("g", 1L, 5L, "keep-dup2"),
      ("g", 2L, 7L, "keep"), ("g", 2L, 6L, "dom-by-27"),
      ("g", 3L, 7L, "dom-by-cheaper-equal"), ("g", 3L, 8L, "keep-top"))
      .toDF("grp", "cost", "gain", "tag")
    val kept = Aggregates.paretoFrontier(df, "grp", "cost", "gain")
      .select("tag").collect().map(_.getString(0)).sorted
    assert(kept.toSeq === Seq("keep", "keep-dup1", "keep-dup2", "keep-top"))
  }

  test("clusterQuality: tight far-apart clusters score low ratio") {
    import spark.implicits._
    val e = Seq(
      (1L, Array(0.1f, 0f), 0), (2L, Array(-0.1f, 0f), 0),
      (3L, Array(10.1f, 0f), 1), (4L, Array(9.9f, 0f), 1))
      .toDF("vec_id", "embedding", "label")
    val r = Similarity.clusterQuality(e).collect().sortBy(_.getAs[Int]("label"))
    assert(r.length === 2)
    r.foreach { row =>
      assert(row.getAs[Long]("n_members") === 2L)
      assert(math.abs(row.getAs[Double]("intra4") - 0.1) < 1e-3)
      assert(math.abs(row.getAs[Double]("sep4") - 10.0) < 1e-3)
      assert(row.getAs[Double]("ratio4") === 0.01)
    }
  }

  test("cohortRetention: first month defines the cohort, offsets count distinct actives") {
    import spark.implicits._
    val orders = Seq(
      (1L, "1995-01-05"), (1L, "1995-01-20"), (1L, "1995-02-01"), // c1: cohort Jan, active Jan+Feb
      (2L, "1995-02-10"))                                         // c2: cohort Feb
      .toDF("o_custkey", "o_orderdate")
      .select(col("o_custkey"), col("o_orderdate").cast("timestamp").as("o_orderdate"))
    val r = Aggregates.cohortRetention(orders).collect()
      .map(x => (x.getLong(0), x.getLong(1), x.getLong(2)))
    val jan = 1995L * 12 + 0
    assert(r.toSeq === Seq((jan, 0L, 1L), (jan, 1L, 1L), (jan + 1, 0L, 1L)))
  }

  test("dupProfileBySource: redundancy counted per feed") {
    import spark.implicits._
    val docs = Seq(
      (1L, "x", "A"), (2L, "x", "A"), (3L, "y", "A"), (4L, "z", "B"))
      .toDF("doc_id", "text", "source")
    val r = Dedup.dupProfileBySource(docs).collect()
    val a = r.find(_.getAs[String]("source") == "A").get
    assert(a.getAs[Long]("n_docs") === 3L && a.getAs[Long]("n_unique") === 2L)
    assert(a.getAs[Long]("n_in_dup_groups") === 2L && a.getAs[Long]("n_redundant") === 1L)
    assert(math.abs(a.getAs[Double]("dup_pct4") - 33.3333) < 1e-9)
    val b = r.find(_.getAs[String]("source") == "B").get
    assert(b.getAs[Long]("n_redundant") === 0L && b.getAs[Double]("dup_pct4") === 0.0)
  }

  test("quantizeError: closed-form residuals in step units") {
    import spark.implicits._
    // scale = 127/127 = 1: residual of 127 is 0, of 63.5 is -0.5
    val e = Seq((1L, Array(127f, 63.5f), 0)).toDF("vec_id", "embedding", "label")
    val r = Similarity.quantizeError(e).head()
    assert(r.getAs[Long]("n_elems") === 2L)
    assert(r.getAs[Double]("mse_rel4") === 0.125)
    assert(r.getAs[Double]("max_rel4") === 0.5)
  }

  test("lengthAnomalies: robust z flags the blob, med/MAD exact") {
    import spark.implicits._
    val docs = Seq((1L, "en", 1L), (2L, "en", 2L), (3L, "en", 3L),
      (4L, "en", 4L), (5L, "en", 100L)).toDF("doc_id", "lang", "n_chars")
    val r = Curation.lengthAnomalies(docs).head()
    // med=3, deviations {2,1,0,1,97} -> mad=1; only 100 crosses 3.5
    assert(r.getAs[Long]("n_docs") === 5L && r.getAs[Long]("n_outliers") === 1L)
    assert(r.getAs[Double]("med4") === 3.0 && r.getAs[Double]("mad4") === 1.0)
  }

  test("bigramEntropy: zero for deterministic successors, closed form otherwise") {
    import spark.implicits._
    val det = Seq((1L, "a b a b a")).toDF("doc_id", "text")
    val r1 = TextOps.bigramEntropy(det).head()
    assert(r1.getAs[Long]("n_bigrams") === 4L && r1.getAs[Long]("n_distinct") === 2L)
    assert(r1.getAs[Double]("cond_entropy_bits") === 0.0)
    // "a b a c": successors of a are 50/50 -> H = 2/3 bit
    val mix = Seq((1L, "a b a c")).toDF("doc_id", "text")
    val r2 = TextOps.bigramEntropy(mix).head()
    assert(math.abs(r2.getAs[Double]("cond_entropy_bits") - 0.6666) < 1.1e-4)
  }

  test("rollingActiveUsers: trailing-7d distinct window expansion") {
    import spark.implicits._
    val events = Seq(
      (1L, "2024-01-01 10:00:00", 1L), (2L, "2024-01-01 11:00:00", 2L),
      (3L, "2024-01-02 10:00:00", 1L), (4L, "2024-01-08 10:00:00", 1L))
      .toDF("event_id", "ts", "user_id")
      .select(col("event_id"), col("ts").cast("timestamp").as("ts"), col("user_id"))
    val r = Events.rollingActiveUsers(events).collect()
      .map(x => (x.getDate(0).toString, x.getLong(1), x.getLong(2), x.getDouble(3)))
    assert(r.toSeq === Seq(
      ("2024-01-01", 2L, 2L, 1.0),   // window = Jan1 only
      ("2024-01-02", 1L, 2L, 0.5),   // window = Jan1+Jan2 -> users {1,2}
      ("2024-01-08", 1L, 1L, 1.0)))  // window = Jan2..Jan8 -> user 1
  }

  test("langDivergence: identical distributions at 0, half overlap at 0.5 bit") {
    import spark.implicits._
    val docs = Seq(
      (1L, "a b", "en"), (2L, "a b", "fr"), // identical unigram dists
      (3L, "a c", "zz"))                    // half-overlap with both
      .toDF("doc_id", "text", "lang")
    val rows = Curation.langDivergence(docs).collect()
      .map(x => ((x.getString(0), x.getString(1)), x.getAs[Double]("js_bits4"))).toMap
    assert(rows(("en", "fr")) === 0.0)
    assert(rows(("en", "zz")) === 0.5 && rows(("fr", "zz")) === 0.5)
  }

  test("cosinePairStats: closed-form stats on an orthogonal triple") {
    import spark.implicits._
    val e = Seq((1L, Array(1f, 0f)), (2L, Array(0f, 1f)), (3L, Array(1f, 0f)))
      .toDF("vec_id", "embedding")
    val r = Similarity.cosinePairStats(e).head()
    assert(r.getAs[Long]("n_pairs") === 3L)
    assert(r.getAs[Double]("mean_cos4") === 0.3333)
    assert(r.getAs[Double]("min_cos4") === 0.0 && r.getAs[Double]("max_cos4") === 1.0)
    assert(r.getAs[Double]("med_cos4") === 0.0)
  }

  test("splitDrift: identical train/test members give cos 1 per label") {
    import spark.implicits._
    def bucket(id: Long): Long = ((id % 2147483648L) * 2654435761L % 4294967296L) * 100 >> 32
    val ids = (1L to 400L)
    val train = ids.filter(bucket(_) < 90).take(3)
    val test = ids.filter(bucket(_) >= 95).take(3)
    assert(train.length === 3 && test.length === 3, "fixture ids must cover both splits")
    val e = (train ++ test).map(id => (id, Array(1f, 2f), 0)).toDF("vec_id", "embedding", "label")
    val r = Similarity.splitDrift(e).head()
    assert(r.getAs[Long]("n_train") === 3L && r.getAs[Long]("n_test") === 3L)
    // sqrt(5)*sqrt(5) = 5 + 1ulp, so the exact-identity cosine trunc4s to 0.9999
    assert(r.getAs[Double]("cos4") >= 0.9999)
  }

  test("hotShingles: duplicate boilerplate tops the df ranking") {
    import spark.implicits._
    val boiler = "w1 w2 w3 w4 w5 w6 w7 w8"
    val docs = Seq(
      (1L, boiler + " tailA"), (2L, boiler + " tailB"), (3L, "x1 x2 x3")) // 3rd: too short
      .toDF("doc_id", "text")
    val r = Dedup.hotShingles(docs, 8, 5).collect()
    assert(r.head.getAs[String]("shingle") === boiler)
    assert(r.head.getAs[Long]("df") === 2L)
    assert(math.abs(r.head.getAs[Double]("df_pct4") - 66.6666) < 1e-9)
  }

  test("mutualKnnDegrees: reciprocal pairs all land at degree 1 for k=1") {
    import spark.implicits._
    val e = Seq(
      (1L, Array(1f, 0f)), (2L, Array(1f, 0.01f)),
      (3L, Array(0f, 1f)), (4L, Array(0.01f, 1f)))
      .toDF("vec_id", "embedding")
    val r = Similarity.mutualKnnDegrees(e, 1).collect()
    assert(r.length === 1)
    assert(r.head.getAs[Long]("deg") === 1L && r.head.getAs[Long]("n_vecs") === 4L)
  }

  test("docLogLoss: closed-form smoothed bigram bits on a single doc") {
    import spark.implicits._
    // "a b a b": P(b|a)=(2+1)/(2+2), P(a|b)=(1+1)/(1+2)
    // mean bits = (2*log2(4/3) + log2(3/2)) / 3 = 0.47168 -> bucket 0
    val docs = Seq((1L, "a b a b")).toDF("doc_id", "text")
    val r = TextOps.docLogLoss(docs).collect()
    assert(r.length === 1)
    assert(r.head.getAs[Long]("bucket") === 0L && r.head.getAs[Long]("n_docs") === 1L)
  }

  test("prefixSuffixOverlap: seam and head signatures both detected") {
    import spark.implicits._
    val run = (1 to 8).map(i => s"t$i").mkString(" ")
    val seamGram = (1 to 8).map(i => s"s$i").mkString(" ")
    val docs = Seq(
      (1L, run + " tailX"), (2L, run + " tailY"),   // shared head
      (3L, "z " + seamGram),                        // suffix = seamGram
      (4L, seamGram + " q"))                        // prefix = seamGram
      .toDF("doc_id", "text")
    val r = Dedup.prefixSuffixOverlap(docs, 8, 50).collect()
      .map(x => (x.getLong(0), x.getLong(1), x.getString(2)))
    assert(r.toSet === Set((1L, 2L, "head"), (3L, 4L, "seam")))
  }

  test("prefixSuffixOverlap df cap bounds the shared-boilerplate fan-out") {
    import spark.implicits._
    // Template family: d docs sharing one boilerplate HEAD — the head
    // join fans out to C(d,2) BEFORE the limit(k) without the cap.
    val d = 40
    val head = (1 to 8).map(i => s"h$i").mkString(" ")
    val docs = (0 until d).map(i =>
      (i.toLong, s"$head tail${i}a tail${i}b tail${i}c " +
        (1 to 8).map(j => s"s${i}x$j").mkString(" "))).toDF("doc_id", "text")
    val uncapped = Dedup.prefixSuffixOverlap(docs, 8, k = 10000)
    assert(uncapped.count() === d.toLong * (d - 1) / 2)
    assert(Dedup.prefixSuffixOverlap(docs, 8, k = 10000,
      maxDocFreq = Some(5L)).count() === 0)
    // loose cap on the real fixture: EXACT no-op (same pair set)
    val fix = t("documents")
    val full = Dedup.prefixSuffixOverlap(fix, 8, 50)
      .collect().map(_.toSeq).toSet
    assert(Dedup.prefixSuffixOverlap(fix, 8, 50, maxDocFreq = Some(100000L))
      .collect().map(_.toSeq).toSet === full)
  }

  test("userActivitySpan: span and rate from epoch-day arithmetic") {
    import spark.implicits._
    val events = Seq(
      (1L, "2024-01-01 23:59:00", 7L), (2L, "2024-01-02 00:01:00", 7L))
      .toDF("event_id", "ts", "user_id")
      .select(col("event_id"), col("ts").cast("timestamp").as("ts"), col("user_id"))
    val r = Events.userActivitySpan(events).head()
    assert(r.getAs[Long]("n_events") === 2L)
    assert(r.getAs[Long]("span_days") === 2L)
    assert(r.getAs[Double]("rate4") === 1.0)
  }

  test("langIdEval: confusion matrix counts every doc once") {
    import spark.implicits._
    val docs = Seq(
      (1L, "the of and to in is", "en"),  // clear en -> diagonal
      (2L, "el la de que y los", "en"),   // es-looking labeled en -> off-diagonal
      (3L, "zz yy xx", "de"))             // no stopword hits -> unknown
      .toDF("doc_id", "text", "lang")
    val r = TextOps.langIdEval(docs).collect()
      .map(x => ((x.getString(0), x.getString(1)), x.getLong(2))).toMap
    assert(r === Map(("en", "en") -> 1L, ("en", "es") -> 1L, ("de", "unknown") -> 1L))
  }

  test("reorderGaps: interpolated percentiles of integer day gaps") {
    import spark.implicits._
    val orders = Seq(
      (1L, 101L, "1970-01-01"), (2L, 101L, "1970-01-11"), (3L, 101L, "1970-01-31"))
      .toDF("o_orderkey", "o_custkey", "o_orderdate")
      .select(col("o_orderkey"), col("o_custkey"),
        col("o_orderdate").cast("timestamp").as("o_orderdate"))
    val customer = Seq((101L, "BUILDING")).toDF("c_custkey", "c_mktsegment")
    val r = Aggregates.reorderGaps(orders, customer).head()
    assert(r.getAs[String]("segment") === "BUILDING")
    assert(r.getAs[Long]("n_gaps") === 2L)
    assert(r.getAs[Double]("med_gap4") === 15.0) // gaps {10, 20}
    assert(r.getAs[Double]("p90_gap4") === 19.0) // 10 + 0.9*(20-10)
  }

  test("seasonalDecompose: constant series has zero seasonal and residual") {
    import spark.implicits._
    val orders = (1 to 14).map(d => (f"2024-01-$d%02d", 100.0))
      .toDF("o_orderdate", "o_totalprice")
      .select(col("o_orderdate").cast("timestamp").as("o_orderdate"), col("o_totalprice"))
    val r = Aggregates.seasonalDecompose(orders).collect()
    assert(r.map(_.getAs[Long]("n_days")).sum === 8L) // days 7..14 survive the full-window filter
    assert(r.forall(_.getAs[Double]("seasonal4") === 0.0))
    assert(r.forall(_.getAs[Double]("resid_sd4") === 0.0))
  }

  test("pcaTopTwo: recovers both axes of a 2-variance cloud, orthogonal loadings") {
    import spark.implicits._
    // dim0 variance 4 (+-2), dim1 variance 1 (+-1): PC1=e0, PC2=e1
    val e = (1 to 40).map { i =>
      (i.toLong, Array(if (i % 2 == 0) 2f else -2f, if ((i / 2) % 2 == 0) 1f else -1f))
    }.toDF("vec_id", "embedding")
    // 6 rounds: eigen-gap 4:1 -> PC1 residual ~(1/4)^6, tight enough for the
    // orthogonality assertion (3 rounds leaves ~5% of e1 in the v1 estimate)
    val r = Similarity.pcaTopTwo(e, 6).collect().sortBy(_.getAs[Int]("dim"))
    assert(r.length === 2)
    assert(math.abs(r(0).getAs[Double]("loading1_4")) > 0.99)
    assert(math.abs(r(1).getAs[Double]("loading2_4")) > 0.99)
    val eig1 = r.head.getAs[Double]("eig1_4")
    val eig2 = r.head.getAs[Double]("eig2_4")
    assert(eig1 > 3.5 && eig1 < 4.5, s"eig1 $eig1 should approximate var=4")
    assert(eig2 > 0.5 && eig2 < 1.5, s"eig2 $eig2 should approximate var=1")
    // orthogonality of the trunc4'd loadings
    val dot = r.map(x =>
      x.getAs[Double]("loading1_4") * x.getAs[Double]("loading2_4")).sum
    assert(math.abs(dot) < 0.01, s"PC1.PC2 = $dot should be ~0")
  }

  test("knnLabelPurity: two tight clusters give purity 1.0 per label") {
    import spark.implicits._
    // two well-separated clusters of 4, orthogonal-ish axes
    val vecs = (0 until 4).map(i => (i.toLong, Array(10.0 + i, 0.1 * i), 1)) ++
      (4 until 8).map(i => (i.toLong, Array(0.1 * i, 10.0 + i), 2))
    val df = vecs.toDF("vec_id", "embedding", "label")
    val r = Similarity.knnLabelPurity(df, k = 3).collect()
      .map(x => x.getLong(0) -> (x.getLong(1), x.getDouble(2))).toMap
    assert(r(1L) === ((4L, 1.0)))
    assert(r(2L) === ((4L, 1.0)))
  }

  test("charTrigramProfile: counts and ranks match brute force on a tiny corpus") {
    import spark.implicits._
    val docs = Seq((1L, "abcabc", "en"), (2L, "bca", "en"), (3L, "xy", "en"))
      .toDF("doc_id", "text", "lang")
    val r = TextOps.charTrigramProfile(docs, k = 10).collect()
      .map(x => (x.getString(1), x.getLong(2), x.getLong(3)))
    // trigrams: doc1: abc, bca, cab, abc; doc2: bca; doc3 skipped (<3 chars)
    // counts: abc 2, bca 2, cab 1 -> ranks abc(1), bca(2), cab(3)
    assert(r.toSeq === Seq(("abc", 2L, 1L), ("bca", 2L, 2L), ("cab", 1L, 3L)))
  }

  test("bootstrapMeanCI: constant series has degenerate CI equal to the point mean") {
    import spark.implicits._
    val orders = (1 to 30).map(d => (f"1995-03-$d%02d", 500.0))
      .toDF("o_orderdate", "o_totalprice")
      .select(col("o_orderdate").cast("timestamp").as("o_orderdate"), col("o_totalprice"))
    val r = Aggregates.bootstrapMeanCI(orders).head()
    // weighted mean of a constant is the constant for every resample
    assert(r.getAs[Double]("point_mean4") === 500.0)
    assert(r.getAs[Double]("ci_lo4") === 500.0)
    assert(r.getAs[Double]("ci_hi4") === 500.0)
    assert(r.getAs[Long]("n_resamples") >= 30L) // den>0 for essentially all b
  }

  test("rollingMedianRevenue: window medians match brute force on a known series") {
    import spark.implicits._
    val vals = Seq(10.0, 20.0, 90.0, 40.0, 50.0, 60.0, 70.0, 80.0, 30.0)
    val orders = vals.zipWithIndex.map { case (v, i) => (f"1995-03-${i + 1}%02d", v) }
      .toDF("o_orderdate", "o_totalprice")
      .select(col("o_orderdate").cast("timestamp").as("o_orderdate"), col("o_totalprice"))
    val r = Aggregates.rollingMedianRevenue(orders, windowDays = 3).collect()
    val got = r.map(_.getAs[Double]("med4")).toSeq
    val exp = vals.indices.map { i =>
      val w = vals.slice(math.max(0, i - 2), i + 1).sorted
      val m = if (w.length % 2 == 1) w(w.length / 2)
              else (w(w.length / 2 - 1) + w(w.length / 2)) / 2
      math.floor(m * 10000) / 10000
    }
    assert(got === exp)
    assert(r.map(_.getAs[Long]("n_window")).toSeq === Seq(1L, 2L, 3L, 3L, 3L, 3L, 3L, 3L, 3L))
  }

  test("lastTouchAttribution: credits the latest prior click, organic when none") {
    import spark.implicits._
    val ev = Seq(
      // user 1: purchase BEFORE any click -> organic(-1), then click k=7, purchase
      (1L, "2024-01-01 09:00:00", 1L, "purchase", 10.0, """{"k": 3}"""),
      (2L, "2024-01-01 10:00:00", 1L, "click", 0.0, """{"k": 7}"""),
      (3L, "2024-01-01 11:00:00", 1L, "purchase", 20.0, """{"k": 99}"""),
      // user 2: two clicks, last one (k=12 -> channel 2) wins
      (4L, "2024-01-02 09:00:00", 2L, "click", 0.0, """{"k": 5}"""),
      (5L, "2024-01-02 10:00:00", 2L, "click", 0.0, """{"k": 12}"""),
      (6L, "2024-01-02 11:00:00", 2L, "purchase", 5.5, """{"k": 1}"""))
      .toDF("event_id", "ts", "user_id", "event_type", "value", "props")
      .select(col("event_id"), col("ts").cast("timestamp").as("ts"),
        col("user_id"), col("event_type"), col("value"), col("props"))
    val r = Events.lastTouchAttribution(ev).collect()
      .map(x => x.getLong(0) -> (x.getLong(1), x.getDouble(2))).toMap
    assert(r(-1L) === ((1L, 10.0)))
    assert(r(7L) === ((1L, 20.0)))
    assert(r(2L) === ((1L, 5.5)))
  }

  test("priceElasticity: exact power law q = c * p^-2 recovers slope -2") {
    import spark.implicits._
    // unit price p, quantity q = 1e6 / p^2 (exact doubles not needed:
    // OLS on ln-ln of an exact power law is exact up to the grid snap)
    val rows = Seq(10.0, 20.0, 40.0, 80.0).zipWithIndex.map { case (p, i) =>
      val q = 1e6 / (p * p)
      (i.toLong, 1L, q, p * q) // partkey 1 -> single brand
    }
    val li = rows.toDF("l_orderkey", "l_partkey", "l_quantity", "l_extendedprice")
    val part = Seq((1L, "BrandX")).toDF("p_partkey", "p_brand")
    val r = Aggregates.priceElasticity(li, part).head()
    assert(r.getAs[String]("p_brand") === "BrandX")
    assert(r.getAs[Long]("n_lines") === 4L)
    assert(math.abs(r.getAs[Double]("elasticity4") + 2.0) < 0.001,
      s"slope ${r.getAs[Double]("elasticity4")}")
    assert(r.getAs[Double]("r2_4") > 0.9999)
  }

  test("hitsBipartite: exact integer rounds match hand-computed fixpoint prefix") {
    import spark.implicits._
    // u1->{p1,p2}, u2->{p1}: a1=(2,1), h1=(3,2), a2=(5,3), h2=(8,5), a3=(13,8)
    val e = Seq((1L, 101L), (1L, 102L), (2L, 101L)).toDF("src", "dst")
    val r = Graph.hitsBipartite(e, "src", "dst", iters = 3, k = 10)
      .collect().map(x => x.getLong(0) -> x.getDouble(1)).toMap
    assert(r(101L) === 1.0)
    assert(r(102L) === math.floor(8.0 / 13.0 * 10000) / 10000)
  }

  test("degreeAssortativity: star graph is exactly -1, equal-degree ring is 0 by convention") {
    import spark.implicits._
    val star = Seq((0L, 1L), (0L, 2L), (0L, 3L)).toDF("a", "b")
    val rs = Graph.degreeAssortativity(star, "a", "b").head()
    assert(rs.getAs[Long]("n_dir_edges") === 6L)
    assert(rs.getAs[Double]("assortativity4") === -1.0)
    // ring: every degree 2 -> zero variance -> convention 0.0
    val ring = Seq((1L, 2L), (2L, 3L), (3L, 1L)).toDF("a", "b")
    assert(Graph.degreeAssortativity(ring, "a", "b").head()
      .getAs[Double]("assortativity4") === 0.0)
  }

  test("revenueTheilSen: median slope ignores a single outlier day OLS cannot") {
    import spark.implicits._
    // perfectly linear +1/day except one wild spike
    val days = (1 to 20).map(d => (f"1995-03-$d%02d", d.toDouble)) :+
      ("1995-03-21", 1000.0)
    val orders = days.toDF("o_orderdate", "o_totalprice")
      .select(col("o_orderdate").cast("timestamp").as("o_orderdate"), col("o_totalprice"))
    val r = Aggregates.revenueTheilSen(orders).head()
    assert(r.getAs[Long]("n_pairs") === 21L * 20 / 2)
    // the robust slope stays 1.0/day despite the 1000x outlier
    assert(r.getAs[Double]("sen_slope4") === 1.0)
  }

  test("revenueMannKendall: S matches brute force; strictly increasing gives tau=1") {
    import spark.implicits._
    val vals = Seq(3.0, 1.0, 4.0, 1.0, 5.0, 9.0, 2.0, 6.0)
    val orders = vals.zipWithIndex.map { case (v, i) => (f"1995-03-${i + 1}%02d", v) }
      .toDF("o_orderdate", "o_totalprice")
      .select(col("o_orderdate").cast("timestamp").as("o_orderdate"), col("o_totalprice"))
    val r = Aggregates.revenueMannKendall(orders).head()
    val brute = (for {
      i <- vals.indices; j <- vals.indices if j > i
    } yield math.signum(vals(j) - vals(i)).toLong).sum
    assert(r.getAs[Long]("s_stat") === brute)
    assert(r.getAs[Long]("n_days") === vals.length.toLong)
    // monotone series: tau = 1 exactly
    val mono = (1 to 10).map(d => (f"1995-04-$d%02d", d * 10.0))
      .toDF("o_orderdate", "o_totalprice")
      .select(col("o_orderdate").cast("timestamp").as("o_orderdate"), col("o_totalprice"))
    assert(Aggregates.revenueMannKendall(mono).head().getAs[Double]("tau4") === 1.0)
  }

  test("spearmanSpend: perfectly monotonic spend gives rho=1; reversal gives -1") {
    import spark.implicits._
    // customer k places k orders of 100*k each: x and y strictly co-monotonic
    val mono = (1 to 5).flatMap(k => Seq.fill(k)((k.toLong, 100.0 * k)))
      .toDF("o_custkey", "o_totalprice")
    // trunc4 floors, so an exact rho of 1 may land at 0.9999
    val rho = Aggregates.spearmanSpend(mono).head().getAs[Double]("spearman4")
    assert(rho >= 0.9999 && rho <= 1.0)
    // customer k places k orders totalling 100*(6-k): totals strictly
    // decrease while order counts increase — ranks exactly reversed
    val anti = (1 to 5).flatMap(k => Seq.fill(k)((k.toLong, 100.0 * (6 - k) / k)))
      .toDF("o_custkey", "o_totalprice")
    val r = Aggregates.spearmanSpend(anti).head()
    assert(r.getAs[Long]("n_customers") === 5L)
    val rhoA = r.getAs[Double]("spearman4")
    assert(rhoA >= -1.0001 && rhoA <= -0.9999)
  }

  test("forecastEval: exact weekly periodicity gives snaive MAE 0 and mase 0") {
    import spark.implicits._
    val pattern = Seq(10.0, 20.0, 30.0, 40.0, 50.0, 60.0, 70.0)
    val orders = (0 until 21).map { i =>
      (f"1995-03-${i + 1}%02d", pattern(i % 7))
    }.toDF("o_orderdate", "o_totalprice")
      .select(col("o_orderdate").cast("timestamp").as("o_orderdate"), col("o_totalprice"))
    val r = Aggregates.forecastEval(orders).head()
    assert(r.getAs[Long]("n_eval") === 14L)
    assert(r.getAs[Double]("mae_snaive4") === 0.0)
    assert(r.getAs[Double]("mase4") === 0.0)
    assert(r.getAs[Double]("mae_naive4") > 0.0)
  }

  test("contingencyChi2: exactly independent table has zero contribution everywhere") {
    import spark.implicits._
    val customer = Seq((1L, "A"), (2L, "B")).toDF("c_custkey", "c_mktsegment")
    // counts 2:4 / 1:2 — rows and columns exactly proportional
    val orders = (Seq.fill(2)((1L, "P")) ++ Seq.fill(4)((1L, "Q")) ++
      Seq.fill(1)((2L, "P")) ++ Seq.fill(2)((2L, "Q")))
      .toDF("o_custkey", "o_orderpriority")
    val rows = Aggregates.contingencyChi2(orders, customer).collect()
    assert(rows.length === 4)
    rows.foreach { r =>
      assert(r.getAs[Double]("contrib4") === 0.0)
      assert(r.getAs[Double]("expected4") === r.getAs[Long]("obs").toDouble)
    }
  }

  test("searchBm25: rare term outranks common term; shorter doc wins at equal tf") {
    import spark.implicits._
    // 'rare' appears in 1 of 4 docs; 'common' in all 4
    val docs = Seq(
      (1L, "rare common pad pad"),
      (2L, "common common pad pad"),
      (3L, "common pad pad pad"),
      (4L, "common pad")
    ).toDF("doc_id", "text")
    val r = TextOps.searchBm25(docs, Seq("rare", "common"), 10).collect()
    // every doc matches 'common'; doc 1 additionally matches 'rare'
    assert(r.length === 4)
    assert(r.head.getAs[Long]("doc_id") === 1L) // IDF of the rare term dominates
    assert(r.head.getAs[Long]("n_terms") === 2L)
    // among equal-tf common-only docs (3 and 4), the SHORTER doc ranks higher
    val ids = r.map(_.getAs[Long]("doc_id")).toSeq
    assert(ids.indexOf(4L) < ids.indexOf(3L))
    assert(r.forall(_.getAs[Double]("score") > 0.0))
  }

  test("herfindahlByNation: monopoly brand gives HHI 1.0; even split halves it") {
    import spark.implicits._
    val nation = Seq((1L, "MONO"), (2L, "DUO")).toDF("n_nationkey", "n_name")
    val customer = Seq((10L, 1L), (20L, 2L)).toDF("c_custkey", "c_nationkey")
    val orders = Seq((100L, 10L), (200L, 20L)).toDF("o_orderkey", "o_custkey")
    val part = Seq((5L, "B1"), (6L, "B2")).toDF("p_partkey", "p_brand")
    val lineitem = Seq(
      (100L, 5L, 10.0, 0.0),             // MONO nation: all revenue on B1
      (200L, 5L, 10.0, 0.0), (200L, 6L, 10.0, 0.0) // DUO: 50/50
    ).toDF("l_orderkey", "l_partkey", "l_extendedprice", "l_discount")
    val r = Aggregates.herfindahlByNation(lineitem, orders, customer, nation, part)
      .collect().map(x => x.getAs[String]("n_name") -> x).toMap
    assert(r("MONO").getAs[Long]("n_brands") === 1L)
    assert(r("MONO").getAs[Double]("hhi") === 1.0)
    assert(r("DUO").getAs[Long]("n_brands") === 2L)
    assert(math.abs(r("DUO").getAs[Double]("hhi") - 0.5) < 1e-3)
  }

  test("abcClassification: one dominant part lands in A, tail in C, shares sum to ~1") {
    import spark.implicits._
    // part 1 carries 80% of revenue exactly; 4 tail parts carry 5% each
    val rows = Seq((1L, 800.0)) ++ (2L to 5L).map(k => (k, 50.0))
    val li = rows.toDF("l_partkey", "l_extendedprice")
      .withColumn("l_discount", lit(0.0))
    val r = Aggregates.abcClassification(li).collect()
    val byClass = r.map(x => x.getAs[String]("abc_class") -> x).toMap
    assert(byClass("A").getAs[Long]("n_parts") === 1L)
    assert(r.map(_.getAs[Long]("n_parts")).sum === 5L)
    val shares = r.map(_.getAs[Double]("rev_share")).sum
    assert(shares > 0.999 && shares <= 1.0)
    // cumulative ordering: A's revenue strictly largest
    assert(byClass("A").getAs[Double]("class_rev_cents") === 800.0 * 100 * 100 / 1e4)
  }

  test("associationStats: exactly independent table gives zero chi2, V and MI") {
    import spark.implicits._
    val customer = Seq((1L, "A"), (2L, "B")).toDF("c_custkey", "c_mktsegment")
    val orders = (Seq.fill(2)((1L, "P")) ++ Seq.fill(4)((1L, "Q")) ++
      Seq.fill(1)((2L, "P")) ++ Seq.fill(2)((2L, "Q")))
      .toDF("o_custkey", "o_orderpriority")
    val r = Aggregates.associationStats(orders, customer).head()
    assert(r.getAs[Long]("n_total") === 9L)
    assert(r.getAs[Long]("dof") === 1L)
    assert(r.getAs[Double]("chi2") === 0.0)
    assert(r.getAs[Double]("cramers_v") === 0.0)
    assert(math.abs(r.getAs[Double]("mutual_info_nats")) < 1e-6)
  }

  test("crossCorrelation: revenue proportional to volume gives cc=1 at lag 0") {
    import spark.implicits._
    val pattern = Seq(3, 1, 4, 1, 5, 9, 2, 6, 5, 3)
    val orders = pattern.zipWithIndex.flatMap { case (p, i) =>
      Seq.fill(p)((f"1995-03-${i + 1}%02d", 100.0)) // cents = cnt * 10000
    }.toDF("o_orderdate", "o_totalprice")
      .select(col("o_orderdate").cast("timestamp").as("o_orderdate"), col("o_totalprice"))
    val rows = Aggregates.crossCorrelation(orders, 3).collect()
      .map(x => x.getAs[Long]("k") -> x.getAs[Double]("cc4")).toMap
    assert(rows(0L) >= 0.9999 && rows(0L) <= 1.0)
    assert(rows(1L) < 0.9) // the pattern is not shift-invariant
  }

  test("newVsReturning: first-month customers counted as new, later months returning") {
    import spark.implicits._
    val orders = Seq(
      (1L, "1995-01-10"), (1L, "1995-02-05"), (1L, "1995-02-20"),
      (2L, "1995-02-11")
    ).toDF("o_custkey", "o_orderdate")
      .select(col("o_custkey"), col("o_orderdate").cast("timestamp").as("o_orderdate"))
    val r = Aggregates.newVsReturning(orders).collect()
      .map(x => x.getAs[java.sql.Date]("month").toString -> x).toMap
    assert(r("1995-01-01").getAs[Long]("n_new") === 1L)
    assert(r("1995-01-01").getAs[Long]("n_returning") === 0L)
    assert(r("1995-02-01").getAs[Long]("n_new") === 1L)
    assert(r("1995-02-01").getAs[Long]("n_returning") === 1L)
    assert(r("1995-02-01").getAs[Long]("n_orders") === 3L)
  }

  test("matryoshkaOverlap: planted prefix-vs-full disagreement is flagged") {
    import spark.implicits._
    // query (1,0,0,0); v1 matches on the FULL vector, v2 only on the prefix
    val emb = Seq(
      (0L, Array(1f, 0f, 0f, 0f)),
      (1L, Array(1f, 0f, 0f, 0f)),    // cos_full = 1,     cos_prefix = 1
      (2L, Array(0.5f, 0f, 10f, 0f)), // cos_full ~ 0.05,  cos_prefix = 1
      (3L, Array(0.7f, 0.7f, 0f, 0f)) // cos_full ~ 0.707, cos_prefix ~ 0.707
    ).toDF("vec_id", "embedding")
    val r2 = Similarity.matryoshkaOverlap(emb, 0L, 2, 2).collect()
      .map(x => x.getAs[Long]("vec_id") -> x).toMap
    assert(r2(1L).getAs[Int]("in_full") === 1 && r2(1L).getAs[Int]("in_prefix") === 1)
    // v2 only makes the cut on the truncated ranking, v3 only on the full one
    assert(r2(2L).getAs[Int]("in_prefix") === 1 && r2(2L).getAs[Int]("in_full") === 0)
    assert(r2(3L).getAs[Int]("in_full") === 1 && r2(3L).getAs[Int]("in_prefix") === 0)
  }

  test("int8RetrievalOverlap: well-separated corpus keeps recall@k = 1") {
    import spark.implicits._
    // cosines to the query are far apart (>> int8 quantization error)
    val emb = (0L to 6L).map { i =>
      val ang = i.toDouble * 0.2
      (i, Array(math.cos(ang).toFloat, math.sin(ang).toFloat))
    }.toDF("vec_id", "embedding")
    val r = Similarity.int8RetrievalOverlap(emb, 0L, 3).collect()
    assert(r.length === 3) // identical top-3 under both rankings
    assert(r.forall(x => x.getAs[Int]("in_float") === 1 && x.getAs[Int]("in_int8") === 1))
    assert(r.forall(x => math.abs(
      x.getAs[Double]("cos_float") - x.getAs[Double]("cos_int8")) < 0.02))
  }

  test("lpaCommunities: two disjoint triangles each converge to their min node id") {
    import spark.implicits._
    val pairs = Seq((1L, 2L), (2L, 3L), (1L, 3L), (10L, 11L), (11L, 12L), (10L, 12L))
      .toDF("pa", "pb")
    val r = Graph.lpaCommunities(pairs, "pa", "pb", 3).collect()
      .map(x => x.getAs[Long]("node") -> x.getAs[Long]("community")).toMap
    assert(r.size === 6)
    assert(Seq(1L, 2L, 3L).forall(n => r(n) === 1L))
    assert(Seq(10L, 11L, 12L).forall(n => r(n) === 10L))
  }

  test("lpaCommunities: driver fast path bit-equals the distributed path") {
    import spark.implicits._
    // a barbell (two triangles joined by a bridge) + a pendant chain:
    // ties and label flow across the bridge exercise the argmax rule
    val pairs = Seq((1L, 2L), (2L, 3L), (1L, 3L), (3L, 4L), (4L, 5L),
      (5L, 6L), (4L, 6L), (6L, 7L), (7L, 8L))
      .toDF("pa", "pb").repartition(3)
    for (rounds <- Seq(1, 2, 3)) {
      val fast = Graph.lpaCommunities(pairs, "pa", "pb", rounds).collect()
        .map(x => x.getAs[Long]("node") -> x.getAs[Long]("community")).toSet
      val dist = Graph.lpaCommunities(pairs, "pa", "pb", rounds, driverEdgeMax = 0L)
        .collect()
        .map(x => x.getAs[Long]("node") -> x.getAs[Long]("community")).toSet
      assert(fast === dist, s"rounds=$rounds")
    }
  }

  test("kmeansExact: two obvious 1-D blobs split on the seeded clusters") {
    import spark.implicits._
    val emb = Seq(
      (0L, Array(0.0f)), (1L, Array(10.0f)),           // seeds
      (2L, Array(0.1f)), (3L, Array(0.2f)),
      (4L, Array(9.9f)), (5L, Array(10.2f))
    ).toDF("vec_id", "embedding")
    val r = Similarity.kmeansExact(emb, 2, 2).collect()
      .map(x => x.getAs[Long]("vec_id") -> x.getAs[Long]("cluster")).toMap
    assert(Seq(0L, 2L, 3L).forall(v => r(v) === 0L))
    assert(Seq(1L, 4L, 5L).forall(v => r(v) === 1L))
  }

  test("intervalJoin: emits each overlapping pair exactly once across bin spans") {
    import spark.implicits._
    // bin width 10: intervals spanning multiple bins, overlap in various bins
    val a = Seq((1L, 5L, 25L), (2L, 40L, 42L)).toDF("aid", "a_s", "a_e")
    val b = Seq((10L, 8L, 12L),  // overlaps a1 in bins 0..1
                (11L, 24L, 30L), // overlaps a1 only at bin 2 edge
                (12L, 26L, 31L), // no overlap with a1 (starts after 25)
                (13L, 35L, 41L)  // overlaps a2
    ).toDF("bid", "b_s", "b_e")
    val r = graft.ops.Relational.intervalJoin(a, b, "a_s", "a_e", "b_s", "b_e", 10L)
      .select("aid", "bid").collect().map(x => (x.getLong(0), x.getLong(1))).sorted
    assert(r.toSeq === Seq((1L, 10L), (1L, 11L), (2L, 13L)))
  }

  test("sessionOverlapPairs: two users online together measured exactly") {
    import spark.implicits._
    def ts(m: Int) = java.sql.Timestamp.valueOf(f"2024-01-01 10:$m%02d:00")
    val events = Seq(
      (1L, 100L, ts(0)), (2L, 100L, ts(20)),   // user 100: 10:00-10:20
      (3L, 200L, ts(10)), (4L, 200L, ts(30)),  // user 200: 10:10-10:30
      (5L, 300L, ts(55))                       // user 300: point session, no overlap
    ).toDF("event_id", "user_id", "ts")
    val r = Events.sessionOverlapPairs(events, 30, 10).collect()
    assert(r.length === 1)
    assert(r.head.getAs[Long]("ua") === 100L && r.head.getAs[Long]("ub") === 200L)
    assert(r.head.getAs[Long]("overlap_us") === 10L * 60L * 1000000L)
  }

  test("dpNoisyCounts: deterministic noise, bounded by the clamp, reproducible") {
    import spark.implicits._
    val docs = (Seq.fill(40)(("en", "s0")) ++ Seq.fill(10)(("fr", "s1")))
      .toDF("lang", "source")
    val r1 = Curation.dpNoisyCounts(docs).collect()
    val r2 = Curation.dpNoisyCounts(docs).collect()
    assert(r1.toSeq === r2.toSeq) // seeded: identical across runs
    r1.foreach { x =>
      val diff = math.abs(x.getAs[Double]("noisy_n") - x.getAs[Long]("n"))
      assert(diff <= 27.7) // |Laplace| bounded by the 1e-12 clamp at eps=1
    }
  }

  test("referentialAudit: planted orphans and null FKs are counted") {
    import spark.implicits._
    val parent = Seq((1L, "x"), (2L, "y")).toDF("pk", "v")
    val child = Seq((10L, Some(1L)), (11L, Some(2L)), (12L, Some(99L)),
      (13L, Option.empty[Long])).toDF("id", "fk")
    val r = Quality.referentialAudit(Seq(("child->parent", child, "fk", parent, "pk")))
      .head()
    assert(r.getAs[Long]("n_child") === 4L)
    assert(r.getAs[Long]("n_orphans") === 2L) // the 99 and the null
  }

  test("framePixelStats: byte stats computed exactly on a known string") {
    import spark.implicits._
    // 40 chars: frame 0 = 32 x 'A' (65), frame 1 = 8 x 'B' (66)
    val docs = Seq((7L, "A" * 32 + "B" * 8)).toDF("doc_id", "text")
    val r = Multimodal.framePixelStats(docs, 32, 4).collect()
      .map(x => x.getAs[Long]("frame_idx") -> x).toMap
    assert(r.size === 2)
    assert(r(0L).getAs[Long]("n_px") === 32L)
    assert(r(0L).getAs[Long]("sum_b") === 32L * 65)
    assert(r(0L).getAs[Long]("min_b") === 65L && r(0L).getAs[Long]("max_b") === 65L)
    assert(r(0L).getAs[Long]("mean_b2") === 6500L)
    assert(r(1L).getAs[Long]("n_px") === 8L)
    assert(r(1L).getAs[Long]("mean_b2") === 6600L)
  }

  test("newUsersStream matches the batch first-seen rollup on the fixture") {
    val streamed = graft.streaming.StreamingOps.newUsersStream(spark, sf()).collect()
    val batch = graft.ext.Events.normalizeTs(t("events"))
      .groupBy(col("user_id"))
      .agg(min(unix_micros(col("ts"))).as("first_us"))
      .select(org.apache.spark.sql.functions.expr("(first_us div 3600000000L) * 3600").as("hour_epoch"))
      .groupBy(col("hour_epoch")).agg(count(lit(1)).cast("long").as("n_new_users"))
      .orderBy(col("hour_epoch")).collect()
    assert(streamed.toSeq === batch.toSeq)
    // total new users across all windows = distinct users
    assert(streamed.map(_.getAs[Long]("n_new_users")).sum ===
      t("events").select(col("user_id")).distinct().count())
  }

  test("snapshot sink: as-of read pins the newest version at or before the ask") {
    import spark.implicits._
    val tmp = java.nio.file.Files.createTempDirectory("graft_tt_spec").toString + "/t"
    graft.ops.Sinks.snapshotWrite(Seq((1, "a"), (2, "b")).toDF("k", "v"), tmp, 0)
    graft.ops.Sinks.snapshotWrite(Seq((1, "a2")).toDF("k", "v"), tmp, 3)
    graft.ops.Sinks.snapshotWrite(Seq((9, "z")).toDF("k", "v"), tmp, 7)
    assert(graft.ops.Sinks.snapshotVersions(spark, tmp) === Seq(0L, 3L, 7L))
    // asOf between versions -> floor; latest when unpinned; exact hit
    assert(graft.ops.Sinks.readSnapshot(spark, tmp, Some(5)).collect().toSeq ===
      Seq(org.apache.spark.sql.Row(1, "a2")))
    assert(graft.ops.Sinks.readSnapshot(spark, tmp, Some(3)).collect().toSeq ===
      Seq(org.apache.spark.sql.Row(1, "a2")))
    assert(graft.ops.Sinks.readSnapshot(spark, tmp).collect().toSeq ===
      Seq(org.apache.spark.sql.Row(9, "z")))
    assert(graft.ops.Sinks.readSnapshot(spark, tmp, Some(0)).count() === 2L)
    // asking for a version older than every snapshot must fail loudly
    intercept[IllegalArgumentException] {
      graft.ops.Sinks.readSnapshot(spark, tmp, Some(-1))
    }
  }

  test("heavyHitters: output equals the exact brute-force filter, guarantee holds") {
    import spark.implicits._
    // 'hot' = 24/60 tokens (40%), 'warm' = 12/60 (20%), tail singletons
    val text = (Seq.fill(24)("hot") ++ Seq.fill(12)("warm") ++
      (1 to 24).map(i => s"tail$i")).mkString(" ")
    val docs = Seq((1L, text)).toDF("doc_id", "text")
    val r = TextOps.heavyHitters(docs, thresholdPpm = 200000, counters = 5).collect()
    // strict threshold: > 20% keeps 'hot' only ('warm' is exactly 20%)
    assert(r.map(_.getAs[String]("term")).toSeq === Seq("hot"))
    assert(r.head.getAs[Long]("n") === 24L)
    assert(r.head.getAs[Long]("n_total") === 60L)
    // lower threshold (> 10%) must include both, exactly
    val r2 = TextOps.heavyHitters(docs, thresholdPpm = 100000, counters = 10)
      .collect().map(_.getAs[String]("term")).toSeq
    assert(r2 === Seq("hot", "warm"))
  }

  test("mlr2: exact planted linear relation is recovered with r2 = 1") {
    import spark.implicits._
    // per order: y_cents = 200 + 300*x1 + 500*x2 exactly
    val xs = Seq((1L, 1L, 2L), (2L, 2L, 2L), (3L, 1L, 5L), (4L, 3L, 7L))
    val lineitem = xs.flatMap { case (ok, x1, x2) =>
      // x1 lines; quantities sum to x2 (last line takes the remainder)
      (1L to x1).map(i =>
        (ok, if (i < x1) 1L else x2 - (x1 - 1)))
    }.toDF("l_orderkey", "l_quantity")
    val orders = xs.map { case (ok, x1, x2) =>
      (ok, (200L + 300L * x1 + 500L * x2).toDouble / 100.0)
    }.toDF("o_orderkey", "o_totalprice")
    val r = Aggregates.mlr2(orders, lineitem).head()
    assert(r.getAs[Long]("n_orders") === 4L)
    assert(r.getAs[Double]("b0_cents") === 200.0)
    assert(r.getAs[Double]("b1_cents_per_line") === 300.0)
    assert(r.getAs[Double]("b2_cents_per_unit") === 500.0)
    assert(r.getAs[Double]("r2") === 1.0)
  }

  test("sampleFixedK: exactly k rows, the k smallest hashes, append-stable") {
    import spark.implicits._
    val df = (0L until 200L).map(i => (i, s"v$i")).toDF("id", "v")
    val s1 = graft.ops.Cleaning.sampleFixedK(df, "id", 10).collect().map(_.getLong(0)).toSeq
    assert(s1.length === 10)
    assert(s1 === s1.sorted)
    // appending rows can only displace members, never grow the sample
    val bigger = (0L until 400L).map(i => (i, s"v$i")).toDF("id", "v")
    val s2 = graft.ops.Cleaning.sampleFixedK(bigger, "id", 10).collect().map(_.getLong(0)).toSeq
    assert(s2.length === 10)
    // consistency: every survivor of the old sample that is still in the
    // new one keeps its membership monotonically (bottom-k property):
    // the new sample is the 10 smallest hashes of a SUPERSET, so any
    // old member NOT in the new sample was displaced by a smaller hash
    val h = (x: Long) => ((x % 2147483648L) * 2654435761L) % 4294967296L
    assert(s2.map(h).max <= s1.map(h).max)
  }

  test("keyPhrases: stopword-delimited runs scored by exact degree/freq sums") {
    import spark.implicits._
    // doc: "big data the big data pipeline a x" ->
    // runs: [big data], [big data pipeline], [x] (len-1 dropped)
    val docs = Seq((1L, "big data the big data pipeline a x")).toDF("doc_id", "text")
    val r = TextOps.keyPhrases(docs, Seq("a", "the"), 4, 10).collect()
    val byPhrase = r.map(x => x.getAs[String]("phrase") -> x).toMap
    assert(byPhrase.keySet === Set("big data", "big data pipeline"))
    // word stats: big freq=2 deg=2+3=5 -> 2500000; data same; pipeline freq=1 deg=3 -> 3000000
    assert(byPhrase("big data").getAs[Long]("score6") === 5000000L)
    assert(byPhrase("big data pipeline").getAs[Long]("score6") === 8000000L)
    assert(byPhrase("big data").getAs[Long]("n_occurrences") === 1L)
  }

  test("fisher index: base month is 1.0 and fisher sits between L and P") {
    val r = Aggregates.priceIndexFisher(t("lineitem")).collect()
    assert(r.nonEmpty)
    val first = r.head // ordered by month; head is the base month
    assert(first.getAs[Double]("laspeyres4") === 1.0)
    assert(first.getAs[Double]("paasche4") === 1.0)
    assert(first.getAs[Double]("fisher4") === 1.0)
    r.foreach { row =>
      val l = row.getAs[Double]("laspeyres4"); val p = row.getAs[Double]("paasche4")
      val f = row.getAs[Double]("fisher4")
      // trunc4 grid can place f one cell outside [min,max] at equality
      assert(f >= math.min(l, p) - 1e-4 && f <= math.max(l, p) + 1e-4)
    }
  }

  test("kendall tau-b: bounded, pair counts consistent") {
    val row = Aggregates.kendallTauNation(t("orders"), t("customer")).head()
    val n0 = row.getAs[Long]("n_pairs")
    val c = row.getAs[Long]("concordant"); val d = row.getAs[Long]("discordant")
    assert(c + d <= n0 && n0 > 0)
    val tau = row.getAs[Double]("tau_b4")
    assert(tau >= -1.0 && tau <= 1.0)
  }

  test("cramers v: in [0,1], levels positive") {
    val row = Aggregates.cramersV(t("orders"), t("customer")).head()
    assert(row.getAs[Long]("r_levels") >= 1 && row.getAs[Long]("c_levels") >= 1)
    assert(row.getAs[Double]("chi2_4") >= 0.0)
    val v = row.getAs[Double]("cramers_v4")
    assert(v >= 0.0 && v <= 1.0)
  }

  test("decile lift: partitions all customers, lift averages to 1") {
    val r = Aggregates.decileLift(t("customer"), t("orders")).collect()
    assert(r.map(_.getAs[Long]("n_customers")).sum === t("customer").count())
    r.foreach { row =>
      val rate = row.getAs[Double]("buy_rate4")
      assert(rate >= 0.0 && rate <= 1.0)
      assert(row.getAs[Long]("decile") >= 1 && row.getAs[Long]("decile") <= 10)
    }
    // customer-weighted mean of lift = 1 by construction (up to trunc4)
    val totN = r.map(_.getAs[Long]("n_customers")).sum.toDouble
    val wavg = r.map(x => x.getAs[Long]("n_customers") * x.getAs[Double]("lift4")).sum / totN
    assert(math.abs(wavg - 1.0) < 1e-3)
  }

  test("table stats: one row per column, key column unique, string axis null") {
    val orders = t("orders")
    val r = Quality.tableStats(orders).collect()
    assert(r.length === orders.columns.length)
    val byCol = r.map(x => x.getAs[String]("column") -> x).toMap
    assert(byCol("o_orderkey").getAs[Long]("ndv") === orders.count())
    assert(byCol("o_orderkey").getAs[Long]("n_nulls") === 0L)
    assert(byCol("o_orderstatus").isNullAt(byCol("o_orderstatus").fieldIndex("min_num")))
    assert(byCol("o_totalprice").getAs[Double]("max_num") >=
      byCol("o_totalprice").getAs[Double]("min_num"))
  }

  test("product quantization: one row per vector, codes in range, Lloyd improves on seeds") {
    val emb = t("embeddings")
    val enc = Similarity.pqEncode(emb, m = 4, dim = 64, k = 8, rounds = 2)
    val rows = enc.collect()
    assert(rows.length === emb.count())
    rows.foreach { r =>
      (0 until 4).foreach { s =>
        val c = r.getAs[Long](s"code$s"); assert(c >= 0 && c < 8)
      }
      assert(r.getAs[Long]("dist_sq6") >= 0L)
    }
    // Lloyd monotonicity: trained-codebook total distortion can't exceed
    // assignment against the raw vec_id<k seed codebooks (rounds=0 ~ seed
    // assignment is what 1 round's assign step starts from)
    val seeded = Similarity.pqEncode(emb, m = 4, dim = 64, k = 8, rounds = 1)
    val d2 = rows.map(_.getAs[Long]("dist_sq6")).sum
    val d1 = seeded.collect().map(_.getAs[Long]("dist_sq6")).sum
    assert(d2 <= d1)
  }

  test("streaming anomaly: z-scores bounded away from 0 and history >= 24h") {
    val r = graft.streaming.StreamingOps.anomalyStream(spark, sf()).collect()
    r.foreach { row =>
      assert(row.getAs[Long]("n_prior") >= 24L)
      assert(math.abs(row.getAs[Double]("z4")) >= 2.0)
    }
  }

  test("feature frame: complete feature vectors, ma7 consistent with lags") {
    val r = Aggregates.featureFrame(t("orders")).collect()
    assert(r.nonEmpty)
    r.foreach { row =>
      assert(!row.isNullAt(row.fieldIndex("lag1")))
      assert(!row.isNullAt(row.fieldIndex("lag7")))
      val dow = row.getAs[Long]("dow")
      assert(dow >= 0 && dow <= 6)
      // trailing mean lies within [min,max] of any 7-day window bound:
      // weaker but cheap — ma7 must be positive on this fixture
      assert(row.getAs[Double]("ma7") > 0.0)
    }
  }

  test("bpe merges: greedy pair sequence on a constructed corpus") {
    import spark.implicits._
    // "aaab" x2 + "ab": pairs (a,a)=4, (a,b)=3 -> merge1 (a,a);
    // then (aa,a)=2,(a,b)=3 -> merge2 (a,b)
    val docs = Seq((1L, "aaab aaab ab")).toDF("doc_id", "text")
    val r = TextOps.bpeMerges(docs, merges = 2).collect()
    assert(r.length === 2)
    assert((r(0).getAs[String]("left"), r(0).getAs[String]("right"),
      r(0).getAs[Long]("pair_freq")) === (("a", "a", 4L)))
    assert((r(1).getAs[String]("left"), r(1).getAs[String]("right"),
      r(1).getAs[Long]("pair_freq")) === (("a", "b", 3L)))
  }

  test("bfs reach: full coverage on a path graph from its hub") {
    import spark.implicits._
    // path 1-2-3-4-5: hub = lowest-id degree-2 node (2); hops 0..3 reach all
    val pairs = Seq((1L, 2L), (2L, 3L), (3L, 4L), (4L, 5L)).toDF("a", "b")
    val r = Graph.bfsReach(pairs, "a", "b", 3).collect()
      .map(x => x.getAs[Long]("hop") -> x.getAs[Long]("n_nodes")).toMap
    // node 2 (deg 2, smallest id among deg-2): hop1 = {1,3}, hop2 = {4}, hop3 = {5}
    assert(r === Map(0L -> 1L, 1L -> 2L, 2L -> 1L, 3L -> 1L))
  }

  test("bfs reach: driver fast path == distributed rounds (driverEdgeMax = 0 forces dist)") {
    import spark.implicits._
    // two components + a branch: hub is node 2 (deg 3); component {9,10}
    // stays unreachable, hop 3 discovers nothing -> no row
    val pairs = Seq((1L, 2L), (2L, 3L), (2L, 4L), (4L, 5L), (9L, 10L))
      .toDF("a", "b")
    def asMap(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(x => x.getAs[Long]("hop") -> x.getAs[Long]("n_nodes")).toMap
    val fast = asMap(Graph.bfsReach(pairs, "a", "b", 3))
    val dist = asMap(Graph.bfsReach(pairs, "a", "b", 3, driverEdgeMax = 0L))
    assert(fast === Map(0L -> 1L, 1L -> 3L, 2L -> 1L))
    assert(fast === dist)
  }

  test("rfc4180 csv: comma, quote and newline round-trip") {
    import spark.implicits._
    val tmp = java.nio.file.Files.createTempDirectory("graft-csvml-t").toString + "/t"
    val df = Seq((1L, "a,\"b\"\nc")).toDF("id", "s")
    ops.Sinks.csvRfc4180(df, tmp)
    val back = ops.Sources.csvMultiline(spark, tmp, "id BIGINT, s STRING").head()
    assert(back.getAs[String]("s") === "a,\"b\"\nc")
  }

  test("readability: ARI exact on a constructed sentence") {
    import spark.implicits._
    // "Hi there. Go now." -> words=4, chars_ns=14, sentences=2
    val docs = Seq((1L, "Hi there. Go now.")).toDF("doc_id", "text")
    val r = TextOps.readability(docs).head()
    assert(r.getAs[Long]("n_words") === 4L)
    assert(r.getAs[Long]("n_chars_ns") === 14L)
    assert(r.getAs[Long]("n_sentences") === 2L)
    // 4.71*14/4 + 0.5*4/2 - 21.43 = 16.485 - 21.43 + 1.0 = -3.945
    assert(math.abs(r.getAs[Double]("ari4") - (-3.945)) < 1e-9)
  }

  test("l-diversity: uniform sensitive column violates, diverse one passes") {
    import spark.implicits._
    val df = Seq(("a", "x"), ("a", "x"), ("b", "x"), ("b", "y"), ("b", "z"))
      .toDF("quasi", "sens")
    val r = Quality.lDiversityAudit(df, Seq("quasi"), "sens", 2).collect()
    val byQ = r.map(x => x.getAs[String]("quasi") -> x).toMap
    assert(byQ("a").getAs[Long]("diversity") === 1L)
    assert(byQ("a").getAs[Int]("violates_l") === 1)
    assert(byQ("b").getAs[Long]("diversity") === 3L)
    assert(byQ("b").getAs[Int]("violates_l") === 0)
  }

  test("dynamic partition overwrite: only the targeted partition changes") {
    import spark.implicits._
    val tmp = java.nio.file.Files.createTempDirectory("graft-dynow-t").toString + "/t"
    val base = Seq((1L, "p1", 10.0), (2L, "p1", 20.0), (3L, "p2", 30.0))
      .toDF("id", "p", "v")
    ops.Sinks.parquet(base, tmp, Seq("p"))
    ops.Sinks.overwritePartitionsDynamic(
      Seq((9L, "p1", 99.0)).toDF("id", "p", "v"), tmp, Seq("p"))
    val back = spark.read.parquet(tmp).collect()
      .map(r => (r.getAs[Long]("id"), r.getAs[String]("p"), r.getAs[Double]("v")))
      .sortBy(_._1)
    // p1 fully replaced by the single new row; p2 untouched
    assert(back.toSeq === Seq((3L, "p2", 30.0), (9L, "p1", 99.0)))
  }

  test("stream-stream left join: all matches present plus watermark-proven nulls") {
    val r = graft.streaming.StreamingOps.clickViewLeftJoinStream(spark, sf()).collect()
    val matched = r.filter(!_.isNullAt(1))
    val inner = graft.streaming.StreamingOps.clickViewJoinStream(spark, sf()).collect()
    assert(matched.length === inner.length) // outer join keeps every inner match
    assert(r.length >= inner.length)        // plus null rows for old unmatched clicks
  }

  test("gram coverage: ratios bounded, covered <= total") {
    val r = Curation.gramCoverage(t("documents")).collect()
    assert(r.nonEmpty)
    r.foreach { row =>
      assert(row.getAs[Long]("n_covered") <= row.getAs[Long]("n_test_shingles"))
      val c = row.getAs[Double]("coverage4")
      assert(c >= 0.0 && c <= 1.0)
    }
  }

  test("gram coverage: hash-agg shape equals the legacy collect_set shape") {
    // the r8 load-robust reformulation must be row-identical to the
    // per-shingle collect_set original it replaced, inlined here
    val docs = t("documents", "sf0.01")
    val hashAgg = Curation.gramCoverage(docs).collect().toSeq
    val dim = Curation.splitAssign(docs, "doc_id")
      .filter(col("split").isin("train", "test"))
      .select(col("doc_id"), col("lang"), col("split"))
    val sp = Dedup.shingleHashes(docs).join(dim, Seq("doc_id"))
      .select(col("lang"), col("split"), col("s").as("sh"))
    val bySh = sp.groupBy(col("sh")).agg(
      max(when(col("split") === "train", 1).otherwise(0)).as("in_train"),
      // collect_set skips nulls, so train-side rows contribute nothing
      collect_set(when(col("split") === "test", col("lang"))).as("test_langs"))
    val legacy = bySh.select(col("in_train"), explode(col("test_langs")).as("lang"))
      .groupBy(col("lang"))
      .agg(count(lit(1)).cast("long").as("n_test_shingles"),
        sum(col("in_train")).cast("long").as("n_covered"))
      .withColumn("coverage4", Num.trunc4(
        col("n_covered").cast("double") / col("n_test_shingles").cast("double")))
      .orderBy(col("lang"))
      .collect().toSeq
    assert(hashAgg.nonEmpty)
    assert(hashAgg === legacy)
  }

  test("shard balance: partitions all docs into range") {
    val docs = t("documents")
    val r = Curation.shardBalance(docs).collect()
    assert(r.map(_.getAs[Long]("n_docs")).sum === docs.count())
    r.foreach { row =>
      val s = row.getAs[Long]("shard")
      assert(s >= 0 && s < 64)
      assert(row.getAs[Double]("load_ratio4") > 0.0)
    }
  }

  test("embedding outliers: k rows, descending, distances positive") {
    val r = Similarity.embeddingOutliers(t("embeddings"), 10).collect()
    assert(r.length === 10)
    val ds = r.map(_.getAs[Double]("dist4"))
    assert(ds.sameElements(ds.sorted.reverse))
    assert(ds.forall(_ >= 0.0))
  }

  test("duplicate key screen: finds planted duplicate, skips unique keys") {
    import spark.implicits._
    val df = Seq((1L, "a"), (1L, "a"), (2L, "b"), (3L, "a"))
      .toDF("k", "v")
    val r = Quality.duplicateKeyScreen(df, Seq("k", "v")).collect()
    assert(r.length === 1)
    assert(r.head.getAs[Long]("k") === 1L && r.head.getAs[Long]("n_rows") === 2L)
  }

  test("apply changelog: last writer wins, tombstoned key vanishes") {
    import spark.implicits._
    val changes = Seq(
      (1L, 1L, "I", 10.0), (1L, 2L, "U", 20.0),  // key 1 -> survives at 20.0
      (2L, 3L, "I", 30.0), (2L, 4L, "D", 0.0),   // key 2 -> deleted
      (3L, 5L, "I", 50.0)                          // key 3 -> survives
    ).toDF("key", "seq", "op", "v")
    val r = ops.Relational.applyChangelog(changes, "key", "seq", "seq",
      col("op") === "D").collect()
    assert(r.map(_.getAs[Long]("key")).toSeq === Seq(1L, 3L))
    assert(r.head.getAs[Double]("v") === 20.0)
  }

  test("ngram novelty: exact copy scores 0, fresh text scores 1") {
    import spark.implicits._
    val docs = Seq(
      (1L, "s", "a b c d"),   // shingles {a b c, b c d} first seen here
      (2L, "s", "a b c d"),   // exact copy -> novelty 0
      (3L, "s", "x y z"),     // fresh -> novelty 1
      (4L, "s", "a b")        // under 3 tokens -> no shingles, dropped
    ).toDF("doc_id", "source", "text")
    val r = Curation.ngramNovelty(docs).collect()
    assert(r.length === 1) // one source, one bucket
    assert(r.head.getAs[Long]("n_docs") === 3L) // doc 4 contributes nothing
    // avg bp = (10000 + 0 + 10000) div 3 = 6666 -> 0.6666
    assert(r.head.getAs[Double]("novelty4") === 0.6666)
  }

  test("ngram novelty: corpus-wide hot shingle (every doc identical) aggregates bounded state") {
    import spark.implicits._
    // the hot-shingle case: ONE shingle held by every document. The
    // min-then-count formulation carries a single scalar per key; the
    // collect_list formulation it replaced would have buffered all 200
    // doc ids under one aggregation key (OOM shape at corpus scale).
    val docs = (1L to 200L).map(i => (i, "s", "same old boilerplate"))
      .toDF("doc_id", "source", "text")
    val r = Curation.ngramNovelty(docs, bucketSize = 100).collect()
    assert(r.length === 2) // 200 docs / bucket 100
    // bucket 0 holds doc 1 (novelty 1.0) + 99 copies: avg bp = 10000 div 100
    assert(r(0).getAs[Double]("novelty4") === 0.01)
    assert(r(1).getAs[Double]("novelty4") === 0.0)
  }

  test("kmeansExact: driver fast path is bit-equal to the relational rounds") {
    val emb = t("embeddings")
    val driver = Similarity.kmeansExact(emb, k = 4, rounds = 2).collect().map(_.toSeq)
    val dist = Similarity.kmeansExact(emb, k = 4, rounds = 2, driverVecMax = 0L)
      .collect().map(_.toSeq)
    assert(driver.length > 0)
    assert(driver.toSeq === dist.toSeq)
  }

  test("pqEncode: driver fast path is bit-equal to the relational rounds") {
    val emb = t("embeddings")
    val driver = Similarity.pqEncode(emb).collect().map(_.toSeq)
    val dist = Similarity.pqEncode(emb, driverVecMax = 0L).collect().map(_.toSeq)
    assert(driver.length > 0)
    assert(driver.toSeq === dist.toSeq)
  }

  test("trainCentroids: driver fast path is bit-equal to the distributed iters") {
    val emb = t("embeddings")
    val driver = Similarity.trainCentroids(emb, numCentroids = 8, iters = 2)
    val dist = Similarity.trainCentroids(emb, numCentroids = 8, iters = 2,
      driverVecMax = 0L)
    assert(driver.length === 8)
    assert(driver.map(_.toSeq).toSeq === dist.map(_.toSeq).toSeq)
  }
}
