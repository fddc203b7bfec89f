package graft.ext

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Document deduplication at training-data scale: exact (hash-groupBy),
  * word-shingle Jaccard, MinHash+LSH, SimHash. The `documents` fixture
  * contains planted near-duplicate pairs (Jaccard ~0.97-0.99), so every
  * op here has observable output.
  *
  * Scale architecture:
  *  - exact dedup: one shuffle on a 128-bit digest, never on the text.
  *  - pairwise Jaccard: shuffle on shingle (inverted index) — exact but
  *    O(pairs-sharing-a-shingle); the correctness backbone.
  *  - MinHash+LSH: the 100 TB path. Per-doc signature (map-side only),
  *    shuffle on (band, bucket) — candidates only, then exact-Jaccard
  *    verification restricted to candidates. With b=16 bands x r=4 rows,
  *    P(miss | J=0.9) = (1-0.9^4)^16 ~= 5e-8, so results match the exact
  *    contract "all pairs with J >= 0.9" (which is what the oracle checks).
  */
object Dedup {

  /** Exact dedup groups: group by normalized-text digest, keep the
    * smallest doc_id as canonical. Shuffles 16-byte digests, not text.
    */
  def exactDedup(docs: DataFrame): DataFrame =
    docs
      .groupBy(TextOps.fingerprintCol(col("text")).as("fp"))
      .agg(min(col("doc_id")).as("keep_id"), count(lit(1)).as("n_copies"))
      .select(col("keep_id"), col("n_copies"), col("fp"))
      .orderBy(col("keep_id"))

  /** Per-source duplication report: how much of each source is exact-
    * duplicate mass — the first number a curation run reads per crawl
    * feed (a feed at 40% redundancy gets its crawler fixed before
    * anyone burns minhash cycles on it). n_redundant = docs minus
    * distinct fingerprints; dup_pct is its share of the feed.
    *
    * Scale shape: same digest discipline as [[exactDedup]] — the
    * shuffle carries (source, 16-byte md5) pairs, never text; two
    * partial-first aggregates, output is |sources| rows.
    */
  def dupProfileBySource(docs: DataFrame): DataFrame = {
    import graft.ext.Num.trunc4
    val g = graft.Tables.spread(docs)
      .select(col("source"), TextOps.fingerprintCol(col("text")).as("fp"))
      .groupBy(col("source"), col("fp")).agg(count(lit(1)).as("c"))
    g.groupBy(col("source"))
      .agg(sum(col("c")).cast("long").as("n_docs"),
        count(lit(1)).as("n_unique"),
        sum(when(col("c") > 1, col("c")).otherwise(0L)).cast("long").as("n_in_dup_groups"),
        (sum(col("c")) - count(lit(1))).cast("long").as("n_redundant"))
      .withColumn("dup_pct4",
        trunc4(col("n_redundant").cast("double") / col("n_docs").cast("double") * 100))
      .orderBy(col("source"))
  }

  /** Cross-source duplication matrix: for every pair of sources, how
    * many identical-document pairs they share — the provenance read
    * [[dupProfileBySource]]'s per-source totals can't give: it names
    * WHICH feeds mirror each other (the same crawl bought twice, a
    * dataset vendored inside another), which is what you need to
    * decide which source to drop. Same-source pairs sit on the
    * diagonal, so internal re-posts and cross-feed copies are
    * separated. Matching is on a HEAD fingerprint (md5 of the first
    * `headTokens` tokens): re-scrapes of the same article carry
    * different boilerplate TAILS (footers, related-links blocks), so a
    * whole-text hash misses exactly the cross-feed copies this report
    * exists to find. Scale shape: one fingerprint aggregate to
    * (fp, source) counts, then pair generation per fingerprint GROUP
    * (bounded by per-fp source multiplicity, never a corpus
    * self-join); exact integer pair counts n*(n-1)/2 and n_a*n_b from
    * the group sizes.
    */
  def sourceOverlapMatrix(docs: DataFrame, headTokens: Int = 40): DataFrame = {
    val bySrc = graft.Tables.spread(docs)
      .select(col("source"),
        md5(concat_ws(" ", slice(split(col("text"), " "), 1, headTokens))).as("fp"))
      .groupBy(col("fp"), col("source")).agg(count(lit(1)).as("c"))
    // diagonal: pairs within one source's copies of the same fp
    val diag = bySrc.filter(col("c") > 1)
      .select(col("source").as("source_a"), col("source").as("source_b"),
        expr("(c * (c - 1)) div 2").cast("long").as("n_pairs"))
      .groupBy(col("source_a"), col("source_b"))
      .agg(sum(col("n_pairs")).cast("long").as("n_dup_pairs"))
    // off-diagonal: cross products of per-source counts for the same fp
    val cross = bySrc.as("a")
      .join(bySrc.as("b"),
        col("a.fp") === col("b.fp") && col("a.source") < col("b.source"))
      .select(col("a.source").as("source_a"), col("b.source").as("source_b"),
        (col("a.c") * col("b.c")).cast("long").as("n_pairs"))
      .groupBy(col("source_a"), col("source_b"))
      .agg(sum(col("n_pairs")).cast("long").as("n_dup_pairs"))
    diag.unionByName(cross)
      .orderBy(col("source_a"), col("source_b"))
  }

  /** Hottest n-gram shingles: the top-k shingles by document
    * frequency, with their share of the corpus — the diagnostic read
    * BEFORE tuning [[ngramJaccardPairs]]' df-cap: a shingle present in
    * 30% of documents (a boilerplate header, a license banner) turns
    * posting-list pair generation quadratic, and this report names it.
    *
    * Scale shape: the distinct (doc, shingle) stream from [[shingles]]
    * collapses through one partial-first count; top-k is
    * TakeOrderedAndProject. The corpus-size scalar rides in on a
    * 1-row broadcast.
    */
  def hotShingles(docs: DataFrame, n: Int = 8, k: Int = 20): DataFrame = {
    import graft.ext.Num.trunc4
    val nd = docs.agg(countDistinct(col("doc_id")).as("n_docs"))
    shingleStrings(docs, n)
      .groupBy(col("s")).agg(count(lit(1)).as("df"))
      .crossJoin(broadcast(nd))
      .select(col("s").as("shingle"), col("df"),
        trunc4(col("df").cast("double") / col("n_docs").cast("double") * 100)
          .as("df_pct4"))
      .orderBy(col("df").desc, col("shingle"))
      .limit(k)
  }

  /** Distinct STRING shingles per doc via the same mapPartitions shape
    * as [[shingleHashes]] — for the reporting paths that need the
    * actual text ([[hotShingles]]). The declarative [[shingles]]
    * builder pays an interpreted higher-order `transform` with n
    * `element_at` calls per shingle (CodegenFallback) plus an array
    * materialization per row; the imperative sliding join is ~6x
    * faster at sf0.1 (9.1s -> 1.5s for the hotShingles plan).
    */
  def shingleStrings(docs: DataFrame, n: Int): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    graft.Tables.spread(docs.select(col("doc_id").cast("long"), col("text")))
      .as[(Long, String)]
      .mapPartitions { rows =>
        rows.flatMap { case (docId, text) =>
          val toks = text.split(" ", -1) // -1: keep trailing empties (Spark split / DuckDB string_split semantics)
          if (toks.length < n) Iterator.empty
          else {
            val seen = new java.util.HashSet[String]()
            val out = List.newBuilder[(Long, String)]
            val sb = new java.lang.StringBuilder(64)
            var i = 0
            while (i <= toks.length - n) {
              sb.setLength(0)
              var g = 0
              while (g < n) {
                if (g > 0) sb.append(' ')
                sb.append(toks(i + g))
                g += 1
              }
              val s = sb.toString
              if (seen.add(s)) out += ((docId, s))
              i += 1
            }
            out.result()
          }
        }
      }
      .toDF("doc_id", "s")
  }

  /** Boundary-gram pair detection, two signatures in one pass:
    * 'seam' — A's LAST n tokens equal B's FIRST n (one logical
    * document split across records, the seam overlapping — re-chunked
    * or sharded crawls); 'head' — A and B share their FIRST n tokens
    * (re-scrapes of the same page with divergent tails, template
    * families). Neither Jaccard nor containment flags a seam reliably
    * (the overlap can be a tiny fraction of both docs); the boundary
    * join does, exactly.
    *
    * Scale shape: one map-side pass computes a single prefix + suffix
    * gram per doc (no shingle explosion); both joins key on that gram,
    * with at most one pair per (a, b, type) by construction. A shared
    * boilerplate HEAD across d docs (template families — the expected
    * input at corpus scale, not a corner) still fans the head join out
    * to C(d,2) and the seam join to d_suf x d_pre BEFORE the limit(k),
    * so `maxDocFreq` caps each side's per-gram posting list — the same
    * lever as [[pairJaccard]]'s [[capDocFreq]], keyed on the boundary
    * gram. Approximate when on (pairs through hot grams are dropped,
    * and the op is a top-k report anyway, so a cap in the hundreds is
    * the deployment setting); default OFF, where the plan is
    * byte-identical to the uncapped one.
    */
  def prefixSuffixOverlap(docs: DataFrame, n: Int = 8, k: Int = 50,
      maxDocFreq: Option[Long] = None): DataFrame = {
    val toks = TextOps.tokens(col("text"))
    val base = graft.Tables.spread(docs)
      .filter(size(toks) >= n)
      .select(col("doc_id"),
        concat_ws(" ", slice(toks, 1, n)).as("prefix"),
        concat_ws(" ", slice(toks, -n, n)).as("suffix"))
      .localCheckpoint(false) // all four join sides
    val preC = capDocFreq(
      base.select(col("doc_id"), col("prefix").as("gram")),
      pruneSingletons = false, maxDocFreq, keyCol = "gram")
    val sufC = capDocFreq(
      base.select(col("doc_id"), col("suffix").as("gram")),
      pruneSingletons = false, maxDocFreq, keyCol = "gram")
    val pre = (side: String) =>
      preC.select(col("doc_id").as(side), col("gram"))
    val seams = sufC.select(col("doc_id").as("doc_a"), col("gram"))
      .join(pre("doc_b"), "gram")
      .filter(col("doc_a") =!= col("doc_b"))
      .select(col("doc_a"), col("doc_b"), lit("seam").as("match_type"))
    val heads = pre("doc_a")
      .join(pre("doc_b"), "gram")
      .filter(col("doc_a") < col("doc_b"))
      .select(col("doc_a"), col("doc_b"), lit("head").as("match_type"))
    seams.union(heads)
      .orderBy(col("match_type"), col("doc_a"), col("doc_b"))
      .limit(k)
  }

  /** Distinct word n-gram shingles per document: (doc_id, s). */
  def shingles(docs: DataFrame, n: Int = 3): DataFrame = {
    val toks = TextOps.tokens(col("text"))
    val sh = when(size(toks) >= n,
      transform(sequence(lit(0), size(toks) - n),
        i => concat_ws(" ", (0 until n).map(j => element_at(toks, i + lit(j + 1))): _*)))
      .otherwise(array().cast("array<string>"))
    docs.select(col("doc_id"), explode(sh).as("s")).distinct()
  }

  /** Distinct shingles hashed to 64-bit longs: (doc_id, s: long),
    * generated by a mapPartitions kernel (tokenize + rolling FNV-1a +
    * splitmix64, per-doc HashSet dedupe) — no array explosion, no
    * interpreted higher-order functions, zero shuffle. The
    * inverted-index join and downstream shuffles then carry 8-byte keys
    * instead of n-word strings — at corpus scale the shingle string is
    * the dominant shuffle payload. Hashing preserves set cardinalities
    * modulo ~2^-64 collisions (P ~ m^2/2^65, ~1e-7 at a billion distinct
    * shingles), so Jaccard values are unchanged.
    */
  def shingleHashes(docs: DataFrame, n: Int = 3): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    // spread: the tokenize+hash kernel is CPU-bound; a single-row-group
    // scan would otherwise run it on one core (no-op on wide inputs)
    graft.Tables.spread(docs.select(col("doc_id").cast("long"), col("text")))
      .as[(Long, String)]
      .mapPartitions { rows =>
        rows.flatMap { case (docId, text) =>
          val toks = text.split(" ", -1) // -1: keep trailing empties (Spark split / DuckDB string_split semantics)
          if (toks.length < n) Iterator.empty
          else {
            val seen = new java.util.HashSet[Long]()
            val out = List.newBuilder[(Long, Long)]
            var i = 0
            while (i <= toks.length - n) {
              var h = 0xcbf29ce484222325L
              var g = 0
              while (g < n) {
                val w = toks(i + g)
                var c = 0
                while (c < w.length) { h ^= w.charAt(c); h *= 0x100000001b3L; c += 1 }
                h ^= ' '; h *= 0x100000001b3L
                g += 1
              }
              h = mix64(h)
              if (seen.add(h)) out += ((docId, h))
              i += 1
            }
            out.result()
          }
        }
      }
      .toDF("doc_id", "s")
  }

  /** Exact pairwise Jaccard via inverted index: join docs on shared
    * shingle (never a cross join), count intersections, divide by union.
    * `minJaccard` prunes the output; the division is int/int -> double,
    * identical in any engine.
    */
  /** Pairwise shingle-intersection counts via POSTING LISTS: group the
    * inverted index by shingle once, emit each posting list's ordered
    * pairs map-side with a kernel, count per pair. One shuffle of the
    * index (by s) + one of the pairs — shared by the Jaccard and
    * containment scorers.
    */
  private def intersectionCounts(shJ: DataFrame): DataFrame = {
    val spark = shJ.sparkSession
    import spark.implicits._
    // Clustered by shingle UNCONDITIONALLY (Shuffles.clusterByKey): the
    // run-grouping kernel below is only correct when every row of a
    // shingle is co-partitioned — sortWithinPartitions sorts locally,
    // so a shingle split across partitions would silently undercount
    // intersections. pinWide's gates pick only the width (pinned wide
    // in the measured compute-dense small-volume regime, planner-sized
    // otherwise).
    //
    // Posting lists assemble via repartition + sortWithinPartitions +
    // a streaming run-grouping kernel over fixed-width (s, doc_id)
    // longs — NOT groupBy(s).agg(collect_list(...)): collect_list is an
    // ObjectHashAggregate, whose under-memory-pressure fallback is a
    // row-object SORT of the corpus-sized index — the same load-
    // amplification hole d_gram_coverage had with collect_set (r7).
    // The explicit sort pays Tungsten's radix path on 16-byte rows up
    // front, spills arrow-flat if it must, and builds each list with
    // zero per-group array/row objects.
    graft.ops.Shuffles.clusterByKey(shJ.select(col("s"), col("doc_id")), col("s"))
      .sortWithinPartitions(col("s"))
      .as[(Long, Long)]
      .mapPartitions { rows =>
        val b = rows.buffered
        new Iterator[(Long, Long)] {
          private var pairs: Iterator[(Long, Long)] = Iterator.empty
          private def advance(): Unit = {
            while (!pairs.hasNext && b.hasNext) {
              val s = b.head._1
              val ds = new scala.collection.mutable.ArrayBuffer[Long](8)
              while (b.hasNext && b.head._1 == s) { ds += b.next()._2 }
              if (ds.length >= 2) {
                val arr = ds.toArray
                java.util.Arrays.sort(arr)
                pairs = arr.indices.iterator.flatMap { i =>
                  ((i + 1) until arr.length).iterator.map(j => (arr(i), arr(j)))
                }
              }
            }
          }
          def hasNext: Boolean = { advance(); pairs.hasNext }
          def next(): (Long, Long) = { advance(); pairs.next() }
        }
      }
      .toDF("doc_a", "doc_b")
      .groupBy(col("doc_a"), col("doc_b")).agg(count(lit(1)).as("n_inter"))
  }

  /** Asymmetric CONTAINMENT pairs (Broder): C(A in B) = |A inter B| /
    * |A| over word-n-gram shingle sets. Jaccard misses subset copies —
    * a short document wholly quoted inside a long one has tiny
    * |union|-normalized resemblance but containment ~1 — so dedup
    * pipelines screen BOTH. Same hashed-shingle inverted index and
    * posting-list kernel as [[pairJaccard]]; only the normalization
    * differs (per-side sizes instead of the union).
    */
  def containmentPairs(
      docs: DataFrame,
      n: Int = 3,
      minContainment: Double = 0.5,
      pruneSingletons: Boolean = false,
      maxDocFreq: Option[Long] = None): DataFrame =
    containmentFromShingles(shingleHashes(docs, n), minContainment,
      pruneSingletons, maxDocFreq)

  /** Shared posting-list pruning for the pairwise scorers — see the
    * parameter notes on [[pairJaccard]]: singleton pruning is EXACT
    * (a df=1 shingle contributes no intersection; per-doc sizes still
    * come from the full index), the hot-shingle `maxDocFreq` cap is
    * the d^2 skew guard and an APPROXIMATION (intersection counts
    * through hot shingles are lost — set the cap well above the
    * corpus duplication factor). Both default OFF.
    */
  private[ext] def capDocFreq(sh: DataFrame,
      pruneSingletons: Boolean, maxDocFreq: Option[Long],
      keyCol: String = "s"): DataFrame = {
    val shJ0 = maxDocFreq match {
      case Some(cap) =>
        val cold = sh.groupBy(col(keyCol)).agg(count(lit(1)).as("df"))
          .filter(col("df") <= cap).select(col(keyCol))
        sh.join(cold, Seq(keyCol), "left_semi")
      case None => sh
    }
    if (pruneSingletons) {
      val shared = shJ0.groupBy(col(keyCol)).agg(count(lit(1)).as("df"))
        .filter(col("df") > 1).select(col(keyCol))
      shJ0.join(shared, Seq(keyCol), "left_semi")
    } else shJ0
  }

  /** [[containmentPairs]] over an already-built hashed-shingle frame —
    * the seam that lets a materialized (doc_id, shingle-hash) index
    * feed every scorer in the family without re-running the tokenize
    * kernel per consumer. `pruneSingletons`/`maxDocFreq` are the same
    * levers as [[pairJaccard]]'s (see [[capDocFreq]]): without the df
    * cap, one boilerplate shingle shared by d documents expands to
    * C(d,2) candidate pairs in [[intersectionCounts]] — the cap is
    * what bounds that fan-out on a real corpus. Per-doc shingle
    * counts (the containment denominators) always come from the FULL
    * index, so singleton pruning never changes a score.
    */
  def containmentFromShingles(
      sh: DataFrame,
      minContainment: Double = 0.5,
      pruneSingletons: Boolean = false,
      maxDocFreq: Option[Long] = None): DataFrame = {
    val sizes = sh.groupBy(col("doc_id")).agg(count(lit(1)).as("n_sh"))
    intersectionCounts(capDocFreq(sh, pruneSingletons, maxDocFreq))
      .join(sizes.select(col("doc_id").as("doc_a"), col("n_sh").as("na")), "doc_a")
      .join(sizes.select(col("doc_id").as("doc_b"), col("n_sh").as("nb")), "doc_b")
      .withColumn("ca", col("n_inter").cast("double") / col("na").cast("double"))
      .withColumn("cb", col("n_inter").cast("double") / col("nb").cast("double"))
      .filter(col("ca") >= minContainment || col("cb") >= minContainment)
      .select(col("doc_a"), col("doc_b"),
        Num.trunc4(col("ca")).as("cont_a_in_b"),
        Num.trunc4(col("cb")).as("cont_b_in_a"))
      .orderBy(col("doc_a"), col("doc_b"))
  }

  def pairJaccard(sh: DataFrame, minJaccard: Double,
      pruneSingletons: Boolean = false,
      maxDocFreq: Option[Long] = None): DataFrame = {
    val sizes = sh.groupBy(col("doc_id")).agg(count(lit(1)).as("n_sh"))
    // Posting-list pruning levers — see [[capDocFreq]]. Singleton
    // pruning is exact but costs MORE than it saves at bench scale
    // (small, heavily-duplicated fixture; measured sf0.1 1.8s -> 2.5s),
    // hence off by default and on for real corpora where most shingles
    // are singletons. maxDocFreq is the d^2 skew guard: Jaccard through
    // hot shingles is underestimated, so set it well above the corpus
    // duplication factor.
    val shJ = capDocFreq(sh, pruneSingletons, maxDocFreq)
    // Intersection counts via POSTING LISTS rather than a self-join:
    // group the index by shingle once, emit each posting list's ordered
    // pairs map-side with a kernel, then count per pair. One shuffle of
    // the index (by s) + one of the pairs — the self-join formulation
    // shuffled the index twice (both join inputs) before the pair
    // aggregate. Pair count per shingle is d^2 either way (see
    // maxDocFreq above for the skew guard).
    val inter = intersectionCounts(shJ)
    val j = inter
      .join(sizes.select(col("doc_id").as("doc_a"), col("n_sh").as("na")), "doc_a")
      .join(sizes.select(col("doc_id").as("doc_b"), col("n_sh").as("nb")), "doc_b")
      .withColumn("jaccard",
        col("n_inter").cast("double") / (col("na") + col("nb") - col("n_inter")).cast("double"))
      .filter(col("jaccard") >= minJaccard)
    j.select(col("doc_a"), col("doc_b"), Num.trunc4(col("jaccard")).as("jaccard"))
      .orderBy(col("doc_a"), col("doc_b"))
  }

  /** Convenience: exact near-dup pairs straight from documents.
    * Runs the inverted index over HASHED shingles (see shingleHashes) —
    * the Jaccard values are identical (set cardinalities are preserved
    * modulo ~2^-65 collisions), the shuffles are 8 bytes/key.
    */
  def ngramJaccardPairs(docs: DataFrame, n: Int = 3, minJaccard: Double = 0.3): DataFrame =
    pairJaccard(shingleHashes(docs, n), minJaccard)

  // splitmix64 finalizer: full-avalanche 64-bit mix (public-domain
  // constant set, Steele et al. "Fast Splittable Pseudorandom Number
  // Generators").
  @inline private def mix64(z0: Long): Long = {
    var z = z0 + 0x9E3779B97F4A7C15L
    z = (z ^ (z >>> 30)) * 0xBF58476D1CE4E5B9L
    z = (z ^ (z >>> 27)) * 0x94D049BB133111EBL
    z ^ (z >>> 31)
  }

  /** Per-document (band, bucket) LSH keys via a single mapPartitions
    * kernel: tokenize -> shingle -> k min-hashes -> band buckets in one
    * pass over the text, no shingle explosion and NO shuffle at all —
    * the first shuffle of the whole dedup pipeline is the bucket join
    * on this output. Internal hashing (FNV-1a + splitmix64) is a free
    * choice: signatures never leave the engine; the output contract is
    * the exact-Jaccard pair set, verified downstream.
    */
  def lshBandsFast(
      docs: DataFrame,
      n: Int = 3,
      numHashes: Int = 64,
      rowsPerBand: Int = 4,
      seed: Long = 42L): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    val numBands = numHashes / rowsPerBand
    val seeds = Array.tabulate(numHashes)(i => mix64(seed + i))
    // spread: numHashes FNV+mix evaluations per shingle — the most
    // CPU-intense kernel in the file; see Tables.spread
    graft.Tables.spread(docs.select(col("doc_id").cast("long"), col("text")))
      .as[(Long, String)]
      .mapPartitions { rows =>
        rows.flatMap { case (docId, text) =>
          val toks = text.split(" ", -1) // -1: keep trailing empties (Spark split / DuckDB string_split semantics)
          if (toks.length < n) Iterator.empty
          else {
            val sig = Array.fill(numHashes)(Long.MaxValue)
            val seen = new java.util.HashSet[Long]()
            var i = 0
            while (i <= toks.length - n) {
              // FNV-1a over the n-gram's chars (with separators), then mix
              var h = 0xcbf29ce484222325L
              var g = 0
              while (g < n) {
                val w = toks(i + g)
                var c = 0
                while (c < w.length) { h ^= w.charAt(c); h *= 0x100000001b3L; c += 1 }
                h ^= ' '; h *= 0x100000001b3L
                g += 1
              }
              h = mix64(h)
              if (seen.add(h)) {
                var j = 0
                while (j < numHashes) {
                  val v = mix64(h ^ seeds(j))
                  if (v < sig(j)) sig(j) = v
                  j += 1
                }
              }
              i += 1
            }
            (0 until numBands).iterator.map { bnd =>
              var b = mix64(seed ^ bnd)
              var r = 0
              while (r < rowsPerBand) { b = mix64(b ^ sig(bnd * rowsPerBand + r)); r += 1 }
              (docId, bnd, b)
            }
          }
        }
      }
      .toDF("doc_id", "band", "bucket")
  }

  /** Full MinHash+LSH near-dup pipeline: candidates from LSH, then exact
    * Jaccard verification restricted to candidates (left-semi prune of
    * the inverted index). Output contract: all pairs with J >= minJaccard
    * (within LSH recall, ~1-5e-8 at the default parameters for J>=0.9).
    *
    * Scale shape: signature+banding is map-side only (lshBandsFast); the
    * bucket join shuffles (band, bucket, doc_id) triples; verification
    * touches only candidate docs' shingle hashes. Nothing in the plan is
    * proportional to all-pairs.
    */
  def minhashDedup(
      docs: DataFrame,
      n: Int = 3,
      numHashes: Int = 64,
      rowsPerBand: Int = 4,
      minJaccard: Double = 0.9): DataFrame = {
    val bands = lshBandsFast(docs, n, numHashes, rowsPerBand)
    // Candidate pairs from bucket POSTING LISTS (same rewrite as the
    // Jaccard inverted index): one shuffle groups the bands by
    // (band, bucket), pairs are emitted map-side, distinct dedupes
    // across bands — instead of self-joining the band table (which
    // shuffles it twice).
    val spark = docs.sparkSession
    import spark.implicits._
    // NO pinWide here (unlike intersectionCounts): LSH bucket occupancy
    // is bounded by design (the bands exist precisely to keep buckets
    // small), so the pair kernel is cheap per bucket and the aggregate's
    // own exchange is the right shape — a user repartition measurably
    // hurt the pipeline (interleaved A/B at sf0.1: d_minhash_lsh 0.99s
    // unpinned vs 1.25s pinned).
    val cand = bands
      .groupBy(col("band"), col("bucket"))
      .agg(collect_list(col("doc_id")).as("ds"))
      .select(col("ds")).as[Seq[Long]]
      .mapPartitions { lists =>
        lists.flatMap { ds =>
          if (ds.lengthCompare(2) < 0) Iterator.empty
          else {
            val arr = ds.toArray
            java.util.Arrays.sort(arr)
            arr.indices.iterator.flatMap { i =>
              ((i + 1) until arr.length).iterator.map(j => (arr(i), arr(j)))
            }
          }
        }
      }
      .toDF("doc_a", "doc_b").distinct()
    // Verify only candidate pairs: restrict both sides of the inverted
    // index to docs that appear in a candidate pair, then exact Jaccard.
    val candDocs = cand.select(col("doc_a").as("doc_id"))
      .union(cand.select(col("doc_b"))).distinct()
    // Shingle ONLY candidate docs — the semi-join runs before the
    // kernel, so verification cost is proportional to candidates, not
    // corpus. Plain (non-broadcast) left_semi: the candidate set is
    // data-dependent and can approach corpus size on a heavily
    // duplicated crawl, so a forced broadcast would be an unbounded
    // driver/executor ceiling; AQE still converts to broadcast at
    // runtime whenever the side is actually small.
    // NOT checkpointed: pairJaccard references the frame twice (sizes +
    // intersection), but the candidate set is small post-LSH and the
    // double kernel evaluation measured CHEAPER than materializing the
    // frame (0.93s vs 1.40s at sf0.1 — the checkpoint's blocking job +
    // lost pipelining outweigh one extra pass over candidates)
    val shCand = shingleHashes(docs.join(candDocs, Seq("doc_id"), "left_semi"), n)
    pairJaccard(shCand, minJaccard)
      .join(cand, Seq("doc_a", "doc_b"), "left_semi")
      .orderBy(col("doc_a"), col("doc_b"))
  }

  /** Cross-document EXACT-SUBSTRING duplication: for every document,
    * how many of its n-token windows already occur in an EARLIER
    * (lower-id) document — the window-granular approximation of
    * suffix-array substring dedup (the "repeated 50-token span" check
    * training-data pipelines run corpus-wide; windows overlap at every
    * token position, so any shared span of >= n tokens is caught).
    *
    * Shape: the [[shingleHashes]] kernel emits per-doc distinct 8-byte
    * window hashes; one groupBy finds each window's first-seen doc; one
    * join + aggregate counts later re-occurrences. Shuffles carry only
    * (hash, doc_id) longs — text never leaves the scan.
    */
  /** The keep/drop DECISION for near-dup clusters: every clustered doc
    * with its cluster id and `keep` = 1 for the cluster's REPRESENTATIVE
    * — the member with the most content (max n_chars, doc_id as the
    * deterministic tiebreak), the standard "keep the longest copy" rule.
    * Unclustered docs don't appear (implicitly kept). This is the row
    * set a dedup stage actually anti-joins the corpus against.
    *
    * Representative selection is a row_number window over cluster_id —
    * one shuffle on the (already tiny relative to the corpus) cluster
    * assignment, joined back to per-doc metadata, never to text.
    */
  def dedupKeepList(
      docs: DataFrame,
      n: Int = 3,
      numHashes: Int = 64,
      rowsPerBand: Int = 4,
      minJaccard: Double = 0.9): DataFrame =
    keepListFromClusters(nearDupClusters(docs, n, numHashes, rowsPerBand, minJaccard), docs)

  /** The decision layer of [[dedupKeepList]] over an ALREADY-COMPUTED
    * cluster assignment — split out so a materialized near-dup pair /
    * cluster table (the artifact a production dedup stage persists once
    * per corpus snapshot) can feed it without re-running the MinHash
    * pipeline.
    */
  def keepListFromClusters(clusters: DataFrame, docs: DataFrame): DataFrame = {
    val sized = clusters.join(
      docs.select(col("doc_id").cast("long").as("doc_id"), col("n_chars")), "doc_id")
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("cluster_id")).orderBy(col("n_chars").desc, col("doc_id"))
    sized.select(col("doc_id"), col("cluster_id"),
        when(row_number().over(w) === 1, 1).otherwise(0).as("keep"))
      .orderBy(col("doc_id"))
  }

  /** Passage-granular exact dedup: chunk every document into ALIGNED,
    * non-overlapping `size`-token passages (trailing partial chunks are
    * dropped) and report each passage text occurring in more than one
    * document. Complements [[substringDup]] (overlapping windows, per-doc
    * counts): aligned chunks are what a pipeline actually DROPS when it
    * dedups at passage granularity, and the chunk list is ~n/size rows
    * per doc instead of ~n.
    *
    * Shape: posexplode -> per-(doc, chunk) reassembly (sort_array of
    * (pos, token) structs restores order under the hash-partitioned
    * aggregate) -> md5 -> one count-distinct aggregate per passage hash.
    * The cross-corpus shuffle carries 16-byte digests, never passage
    * text.
    */
  def passageDedup(docs: DataFrame, size: Int = 20): DataFrame = {
    require(size > 0, "passage size must be positive")
    val tok = graft.Tables.spread(docs.select(col("doc_id"), col("text")))
      .select(col("doc_id"), posexplode(split(col("text"), " ")).as(Seq("pos", "w")))
    val chunks = tok
      .withColumn("chunk", floor(col("pos") / size))
      .groupBy(col("doc_id"), col("chunk"))
      .agg(count(lit(1)).as("n"),
        array_join(transform(array_sort(collect_list(struct(col("pos"), col("w")))),
          x => x.getField("w")), " ").as("passage"))
      .filter(col("n") === size)
      .select(col("doc_id"), md5(col("passage")).as("h"))
    chunks.groupBy(col("h"))
      .agg(countDistinct(col("doc_id")).as("n_docs"), min(col("doc_id")).as("first_doc"))
      .filter(col("n_docs") > 1)
      .orderBy(col("first_doc"), col("h"))
  }

  /** Winnowing fingerprint overlap (the MOSS document-fingerprinting
    * scheme): hash every `k`-token shingle, slide a window of `w`
    * consecutive shingle hashes, keep each window's MINIMUM — a
    * guaranteed-coverage subsample (any shared run of k+w-1 tokens
    * shares a fingerprint) at ~1/w the volume of full shingling. Doc
    * pairs sharing >= `minShared` selected fingerprints are emitted
    * with their overlap count: the plagiarism/near-dup detector that
    * scales where full shingle comparison can't.
    *
    * Portability: the hash is md5 (engines agree byte-for-byte) and
    * "minimum" is the hex string's lexicographic order — which equals
    * UNSIGNED BYTE order of the raw digest, so the SELECTION (which
    * depends on hash ORDER, unlike the equality-only pipelines above)
    * is identical in any engine. Trailing partial windows are included
    * (each position takes the min over itself and up to w-1
    * followers) — a documented variant, consistent across engines.
    *
    * Scale shape: selection is a per-doc mapPartitions kernel
    * (tokenize, k-gram md5, sliding byte-order min, HashSet dedupe) —
    * winnowing is doc-LOCAL by definition, so the earlier declarative
    * explode + per-doc window-min + distinct paid three shuffles of
    * 32-char hex strings for what one kernel pass computes in place
    * (measured 0.93s loaded vs DuckDB's 0.39 at sf0.1). Selected
    * fingerprints leave the kernel as the digest's first 8 bytes
    * (collision budget P ~ m^2/2^65, the same as every hashed-shingle
    * pipeline here), so the posting-list self-join — candidates meet
    * only on shared fingerprints, never all-pairs — shuffles 8-byte
    * keys, not hex strings.
    */
  def winnowingPairs(
      docs: DataFrame,
      k: Int = 5,
      w: Int = 4,
      minShared: Long = 3,
      topK: Int = 25,
      pruneSingletons: Boolean = false,
      maxDocFreq: Option[Long] = None): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    val selected = graft.Tables.spread(
        docs.select(col("doc_id").cast("long").as("doc_id"), col("text")))
      .as[(Long, String)]
      .mapPartitions { rows =>
        val md = java.security.MessageDigest.getInstance("MD5")
        rows.flatMap { case (docId, text) =>
          val ws = text.split(" ", -1) // -1: keep trailing empties (Spark split / DuckDB string_split semantics)
          if (ws.length < k) Iterator.empty
          else {
            val n = ws.length - (k - 1)
            val hs = new Array[Array[Byte]](n)
            val sb = new java.lang.StringBuilder
            var i = 0
            while (i < n) {
              sb.setLength(0)
              var g = 0
              while (g < k) {
                if (g > 0) sb.append(' '); sb.append(ws(i + g)); g += 1
              }
              md.reset()
              hs(i) = md.digest(
                sb.toString.getBytes(java.nio.charset.StandardCharsets.UTF_8))
              i += 1
            }
            val seen = new java.util.HashSet[Long]()
            val out = List.newBuilder[(Long, Long)]
            i = 0
            while (i < n) {
              var m = hs(i)
              val end = math.min(i + w, n)
              var j = i + 1
              while (j < end) {
                if (java.util.Arrays.compareUnsigned(hs(j), m) < 0) m = hs(j)
                j += 1
              }
              val h64 = java.nio.ByteBuffer.wrap(m).getLong
              if (seen.add(h64)) out += ((docId, h64))
              i += 1
            }
            out.result()
          }
        }
      }.toDF("doc_id", "fp")
    // Hot-fingerprint guard, same lever as [[pairJaccard]]'s (see
    // [[capDocFreq]]): winnowing's 1/w subsample thins volume but does
    // NOT dedupe a fingerprint ACROSS docs — a boilerplate (k+w-1)-token
    // run (license header, nav chrome) shared by d docs still meets
    // here as a d-long posting list and enumerates C(d,2) pairs below.
    // maxDocFreq bounds that to C(cap,2) per fingerprint (approximate:
    // overlap counted through hot fingerprints is lost — set the cap
    // well above the corpus duplication factor); pruneSingletons is
    // EXACT for the pair output (a df=1 fingerprint joins only with
    // itself, which doc_a < doc_b discards). Both default OFF.
    val capped = capDocFreq(selected, pruneSingletons, maxDocFreq, keyCol = "fp")
    val a = capped.select(col("doc_id").as("doc_a"), col("fp"))
    val b = capped.select(col("doc_id").as("doc_b"), col("fp"))
    a.join(b, Seq("fp")).filter(col("doc_a") < col("doc_b"))
      .groupBy(col("doc_a"), col("doc_b"))
      .agg(count(lit(1)).cast("long").as("n_shared"))
      .filter(col("n_shared") >= minShared)
      .orderBy(col("n_shared").desc, col("doc_a"), col("doc_b"))
      .limit(topK)
  }

  def substringDup(docs: DataFrame, n: Int = 30): DataFrame = {
    val sh = shingleHashes(docs, n)
    val firstSeen = sh.groupBy(col("s")).agg(min(col("doc_id")).as("first_doc"))
    sh.join(firstSeen, "s")
      .filter(col("doc_id") > col("first_doc"))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_dup_windows"))
      .orderBy(col("doc_id"))
  }

  /** Near-duplicate CLUSTERS: connected components over the near-dup
    * pair graph, labelling every clustered doc with its component's
    * minimum doc_id — the step that turns a pair list into an
    * actionable keep/drop assignment (keep cluster_id, drop the rest).
    *
    * Iterative min-label propagation: each round every node takes the
    * min of its own label and its neighbours' labels; converges within
    * graph-diameter rounds (near-dup components are shallow — dup
    * clusters, not social graphs). Per round: one shuffle join + one
    * aggregate, plus a single scalar count to the driver for the
    * fixpoint test (an iterative-algorithm action, not a data
    * collect). Converges within graph-diameter rounds — fine for dup
    * clusters (shallow), wrong default for chain topologies; for those
    * use [[clusterPairsStar]], which is O(log n) rounds on any graph
    * and is what [[nearDupClusters]] runs.
    */
  def clusterPairs(pairs: DataFrame, maxIter: Int = 25): DataFrame = {
    val edges = pairs
      .select(col("doc_a").cast("long").as("u"), col("doc_b").cast("long").as("v"))
      .union(pairs.select(col("doc_b").cast("long"), col("doc_a").cast("long")))
      .distinct().cache()
    // localCheckpoint (eager) per round: the iteration references
    // `labels` on two plan branches, so without truncation the lineage
    // DOUBLES every round — 12 rounds in, just rendering the plan OOMs.
    // Checkpointing is what every iterative-on-Spark algorithm does
    // (GraphX/ALS use the reliable variant).
    var labels = edges.select(col("u").as("node")).distinct()
      .withColumn("label", col("node")).localCheckpoint(true)
    var changed = 1L
    var iter = 0
    while (changed > 0 && iter < maxIter) {
      val neighborMin = edges.join(labels, edges("v") === labels("node"))
        .groupBy(col("u")).agg(min(col("label")).as("nmin"))
      val next = labels.join(neighborMin, labels("node") === neighborMin("u"), "left")
        .select(labels("node"),
          least(col("label"), coalesce(col("nmin"), col("label"))).as("next_label"),
          col("label").as("prev_label"))
        .localCheckpoint(true)
      changed = next.filter(col("next_label") =!= col("prev_label")).count()
      labels = next.select(col("node"), col("next_label").as("label"))
      iter += 1
    }
    edges.unpersist()
    // A silent early exit would return WRONG labels (nodes still carrying
    // a non-minimum component id) — fail loudly instead.
    require(changed == 0,
      s"clusterPairs did not converge within $maxIter rounds ($changed labels still " +
        "changing) — the pair graph has a component with diameter > maxIter; raise " +
        "maxIter or use clusterPairsStar (O(log n) rounds on any topology)")
    labels.select(col("node").as("doc_id"), col("label").as("cluster_id"))
      .orderBy(col("doc_id"))
  }

  /** Connected components by alternating large-star / small-star
    * contraction (Kiveris et al., "Connected Components in MapReduce and
    * Beyond", SoCC 2014 — public literature): converges in O(log n)
    * rounds on ANY topology, where min-label propagation needs
    * graph-diameter rounds (a 1000-node chain: ~10 vs 1000).
    *
    * Each round rewrites the edge set (canonical `a < b` pairs):
    *  - large-star: every node `u` links its LARGER neighbours to
    *    `m = min(N(u) ∪ u)` — long chains fold toward their minimum;
    *  - small-star: every node `u` links its smaller neighbours and
    *    itself to the minimum of its smaller neighbourhood.
    * Connectivity is preserved by both steps (proved in the paper); the
    * fixpoint is one star per component rooted at the component minimum.
    *
    * Distributed cost per round: two groupBy-min shuffles + one join
    * each — no step is ever proportional to component diameter, and
    * nothing row-sized reaches the driver: the fixpoint test compares a
    * per-round SIGNATURE (edge count + sum of per-edge xxhash64),
    * computed in one aggregate over the just-checkpointed edges — set
    * equality up to a 64-bit-sum collision, vanishingly unlikely and
    * strictly cheaper than an except() anti-join (which would cost two
    * more shuffles per round). Lineage is truncated once per round with
    * eager localCheckpoint, same as [[clusterPairs]].
    *
    * Output schema/semantics identical to [[clusterPairs]]:
    * (doc_id, cluster_id = component min), one row per node of the pair
    * graph, ordered by doc_id.
    *
    * Adaptive small-graph path: a ONE-JOB packed probe-collect
    * ([[graft.ext.Graph.probeCollect]]) of the raw pair stream gates
    * on `driverEdgeMax` raw rows (default 200k ≈ 3 MB of longs — the
    * same measured-small adaptivity AQE applies when it converts a
    * shuffle join to broadcast); when it fits, the components are
    * solved by a driver union-find instead of ~4 eagerly-materialized
    * exchanges per contraction round. The bound is a hard gate on data
    * volume reaching the driver, not a heuristic: anything larger runs
    * the distributed contraction unchanged. Near-dup pair graphs are
    * usually far below the bound even for huge corpora (pairs ~ dup
    * rate x corpus, and the verify step already prunes), but nothing
    * relies on that. Set `driverEdgeMax = 0` to force the distributed
    * path (the equivalence of both paths is test-pinned).
    */
  def clusterPairsStar(
      pairs: DataFrame,
      maxIter: Int = 50,
      driverEdgeMax: Long = Graph.DriverEdgeMaxDefault): DataFrame = {
    val spark = pairs.sparkSession
    val rawPlan = pairs
      .select(col("doc_a").cast("long").as("x"), col("doc_b").cast("long").as("y"))
    // ONE-JOB driver fast path: probe-collect the RAW pair stream and
    // derive nodes, canonical edges, and the union-find all
    // driver-side. The earlier shape paid FOUR eager jobs before any
    // clustering (input checkpoint, signature aggregate, node collect,
    // edge collect) — pure job-submission overhead on the
    // few-hundred-row near-dup graphs this gate exists for, and the
    // dominant cost of every bench consumer (d_dedup_clusters,
    // d_curate_final, ...). Gating on the PRE-canonicalization row
    // count is strictly conservative (raw count >= distinct canonical
    // count — same argument as [[graft.ext.Graph.hitsBipartite]]), and
    // bounds nodes <= 2*raw without the old self-loop re-check. A raw
    // stream above the gate falls through to the distributed
    // contraction, which re-derives everything from one checkpoint
    // exactly as before.
    val probe = Graph.probeCollect(rawPlan, driverEdgeMax)
    if (probe.isDefined) {
      val flat = probe.get
      val parent = new scala.collection.mutable.HashMap[Long, Long]()
      def find(x: Long): Long = {
        var r = x
        while (parent.getOrElse(r, r) != r) r = parent.getOrElse(r, r)
        // path compression
        var c = x
        while (parent.getOrElse(c, c) != r) { val nx = parent(c); parent(c) = r; c = nx }
        r
      }
      val endpoints = new Array[Long](flat.length)
      var i = 0
      while (i < flat.length) {
        val x = flat(i); val y = flat(i + 1)
        endpoints(i) = x; endpoints(i + 1) = y
        if (x != y) {
          val (ra, rb) = (find(x), find(y))
          // root chosen as min on every union, so find() IS the component min
          if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
        }
        i += 2
      }
      java.util.Arrays.sort(endpoints)
      val labeled = scala.collection.mutable.ArrayBuffer.empty[(Long, Long)]
      i = 0
      while (i < endpoints.length) {
        if (i == 0 || endpoints(i - 1) != endpoints(i))
          labeled += ((endpoints(i), find(endpoints(i))))
        i += 1
      }
      import spark.implicits._
      return labeled.toSeq.toDF("doc_id", "cluster_id").orderBy(col("doc_id"))
    }
    // checkpoint the input ONCE: `nodes` and `e` both derive from it, and
    // without truncation each would re-run the whole upstream pipeline
    // (for nearDupClusters that is the entire MinHash candidate+verify
    // pass — measured ~0.9s doubled at sf0.1)
    val raw = rawPlan.localCheckpoint(true)
    val nodes = raw.select(col("x").as("node")).union(raw.select(col("y"))).distinct()
    var e = raw.filter(col("x") =!= col("y"))
      .select(least(col("x"), col("y")).as("a"), greatest(col("x"), col("y")).as("b"))
      .distinct().localCheckpoint(true)
    def signature(df: DataFrame): (Long, Long) = {
      val r = df.agg(count(lit(1)), sum(xxhash64(col("a"), col("b")))).head()
      (r.getLong(0), if (r.isNullAt(1)) 0L else r.getLong(1))
    }
    var sig = signature(e)
    var converged = sig._1 == 0L
    var iter = 0
    // Size the loop's shuffle width to the MEASURED edge count (known
    // from the signature): each round eagerly materializes ~4 exchanges,
    // and a near-dup pair graph is typically orders of magnitude smaller
    // than the corpus — paying the session's full reducer count per
    // round is pure scheduling overhead there. ~50k edges per reducer,
    // never above the session setting (billion-edge graphs keep it).
    // The width is applied per-plan with explicit `repartition` calls
    // (placed so downstream aggregates/joins find their distribution
    // already satisfied — no extra exchanges), NOT by mutating the
    // session-global spark.sql.shuffle.partitions, which would silently
    // re-plan any concurrent query on the same session.
    val sessionParts = spark.conf.get("spark.sql.shuffle.partitions").toLong
    val loopParts = math.max(1L, math.min(sessionParts, sig._1 / 50000L + 1L)).toInt
    while (!converged && iter < maxIter) {
      // Large-star over the symmetric adjacency: m = min(neighbours, u);
      // emit (m, v) for every neighbour v > u. Each canonical edge is seen
      // from both endpoints, and only the smaller endpoint emits for it.
      val sym = e.select(col("a").as("u"), col("b").as("v"))
        .union(e.select(col("b"), col("a")))
        .repartition(loopParts, col("u")) // serves groupBy(u) AND join(u)
      val nMin = sym.groupBy(col("u")).agg(min(col("v")).as("nmin"))
      // lazily persisted: ls feeds BOTH sMin and the join below — without
      // the cache the whole large-star stage would run twice per round.
      // Partitioned on b: hash(b) satisfies distinct's (a,b) clustering,
      // the groupBy(b), and the join on b — one exchange, three consumers.
      val ls = sym.join(nMin, "u")
        .filter(col("v") > col("u"))
        .select(least(col("nmin"), col("u")).as("a"), col("v").as("b"))
        .filter(col("a") =!= col("b"))
        .repartition(loopParts, col("b")).distinct().persist()
      // Small-star over edges directed larger -> smaller (canonical form
      // already is): for each larger endpoint b, link every smaller
      // neighbour and b itself to the minimum smaller neighbour.
      val sMin = ls.groupBy(col("b")).agg(min(col("a")).as("smin"))
      val next = ls.join(sMin, "b")
        .filter(col("a") =!= col("smin"))
        .select(col("smin").as("a"), col("a").as("b"))
        .union(sMin.select(col("smin").as("a"), col("b")))
        .repartition(loopParts, col("a"), col("b"))
        .distinct().localCheckpoint(true) // ONE eager truncation per round
      ls.unpersist(false)
      val nextSig = signature(next)
      converged = nextSig == sig
      e = next
      sig = nextSig
      iter += 1
    }
    require(converged,
      s"clusterPairsStar did not converge within $maxIter rounds — " +
        "unexpected for O(log n) contraction; raise maxIter")
    // Fixpoint edges form a star (m, v) per component: v's label is m,
    // roots (and isolated nodes, if any) label themselves.
    val parent = e.groupBy(col("b").as("node")).agg(min(col("a")).as("label"))
    nodes.join(parent, Seq("node"), "left")
      .select(col("node").as("doc_id"),
        coalesce(col("label"), col("node")).as("cluster_id"))
      .orderBy(col("doc_id"))
  }

  /** Edit-distance (Levenshtein) near-dup pairs over a short TITLE
    * projection (the leading `titleTokens` whitespace tokens) — the
    * record-linkage tool for short strings (titles, names, URLs), where
    * set-based sketches (MinHash/SimHash) lose signal because the token
    * sets are tiny.
    *
    * Candidate generation is PREFIX BLOCKING (Fellegi-Sunter-style
    * record linkage, public literature): titles pair only within equal
    * first-token blocks, a plain shuffle-on-key equi-join — never a
    * cartesian product. The block key is part of the declared contract
    * (pairs differing in token 1 are out of scope by definition), which
    * keeps the result exact, oracle-expressible, and O(sum of block^2)
    * instead of O(n^2). Scoring uses the early-abandon threshold form
    * of levenshtein (abandons a pair's DP as soon as the running
    * minimum exceeds `maxDist` — O(maxDist * len) not O(len^2)).
    *
    * Skew defense: the block key is COMPOUND — (first token, title
    * length band) — so a corpus where half the titles start with "the"
    * does not collapse onto one quadratic task. The band is lossless:
    * edit_dist <= maxDist forces |len(a)-len(b)| <= maxDist, so with
    * band = len div (maxDist+1) every qualifying pair sits in equal or
    * ADJACENT bands (band distance >= 2 means a length gap >=
    * maxDist+2 > maxDist, correctly never scored). Enumeration is the
    * asymmetric two-key scheme: leg A emits {band (cross=false),
    * band+1 (cross=true)}, leg B its own band. A same-band unordered
    * pair matches twice (both orders, cross=false) and dedupes on
    * doc_a < doc_b; an adjacent-band pair matches EXACTLY once — only
    * with A in the lower band, via its cross=true key — and emits its
    * ids least/greatest (levenshtein is symmetric, so title order is
    * irrelevant). Every unordered candidate pair therefore surfaces
    * exactly once, and the result set is bit-identical to the
    * single-key all-pairs-within-token formulation; only the
    * partitioning and the enumeration count change (cross-band pairs
    * run the DP once, not twice).
    *
    * The band is UNCONDITIONAL — a probe-gated fallback to the plain
    * single-key join ("when no (tok1) block is skewed, skip the band")
    * was built and MEASURED REJECTED (sf0.1, interleaved min-of-reps):
    * banded 1.84s, single-key 1.76s, probe-gated single-key 2.03s,
    * probe-gated + checkpointed title frame 1.97s. The band itself
    * costs ~0.08s (= ambient noise) because it also PRUNES: only
    * same-/adjacent-band pairs are enumerated, so length-distant pairs
    * in a block never reach the DP — while the one-job max-block probe
    * costs ~0.25s, more than the band ever saves. Keeping the skew
    * guard always-on is both the safe-at-scale and the faster choice.
    */
  def editDistancePairs(
      docs: DataFrame,
      titleTokens: Int = 6,
      maxDist: Int = 5): DataFrame = {
    // substring_index stops at the Nth delimiter: O(title bytes) per
    // row, vs split() materializing the full ~1000-element token array
    // of every document just to keep 6 (was the dominant cost of this
    // query — two full-text splits per doc, one per join leg)
    val title = substring_index(col("text"), " ", titleTokens)
    val bandW = maxDist + 1
    val base = docs.select(col("doc_id").cast("long").as("doc_id"), title.as("title"))
    val t = base
      .withColumn("tok1", substring_index(col("title"), " ", 1))
      .withColumn("band", floor(char_length(col("title")) / bandW).cast("int"))
    // Probe-side width: the banded-DP join runs map-side (build side
    // broadcasts), so its parallelism is whatever the document SCAN
    // happens to have — a single-file snapshot serializes every
    // candidate pair's levenshtein onto ONE task regardless of core
    // count (measured sf0.1: the whole 1.7s probe pipeline on 1 task
    // at local[32]). Tables.spread widens only scan-shaped inputs that
    // are narrower than the core count, so at real scale (scan already
    // wide) it is a no-op and no extra exchange is paid.
    val tA = graft.Tables.spread(base)
      .withColumn("tok1", substring_index(col("title"), " ", 1))
      .withColumn("band", floor(char_length(col("title")) / bandW).cast("int"))
    val a = tA.select(col("tok1"),
      explode(array(
        struct(col("band").as("k"), lit(false).as("cross")),
        struct((col("band") + 1).as("k"), lit(true).as("cross")))).as("e"),
      col("doc_id").as("doc_a"), col("title").as("title_a"))
      .select(col("tok1"), col("e.k").as("k"), col("e.cross").as("cross"),
        col("doc_a"), col("title_a"))
    val b = t.select(col("tok1"), col("band").as("k"),
      col("doc_id").as("doc_b"), col("title").as("title_b"))
    a.join(b, Seq("tok1", "k"))
      .filter((!col("cross") && col("doc_a") < col("doc_b")) || col("cross"))
      .withColumn("edit_dist",
        levenshtein(col("title_a"), col("title_b"), maxDist).cast("bigint"))
      .filter(col("edit_dist") >= 0) // threshold form returns -1 past maxDist
      .select(least(col("doc_a"), col("doc_b")).as("doc_a"),
        greatest(col("doc_a"), col("doc_b")).as("doc_b"), col("edit_dist"))
      .orderBy(col("doc_a"), col("doc_b"))
  }

  /** Near-dup clusters straight from documents: MinHash+LSH pairs
    * (J >= minJaccard) -> connected components via star contraction
    * (topology-independent round count).
    */
  def nearDupClusters(
      docs: DataFrame,
      n: Int = 3,
      numHashes: Int = 64,
      rowsPerBand: Int = 4,
      minJaccard: Double = 0.9): DataFrame =
    clusterPairsStar(minhashDedup(docs, n, numHashes, rowsPerBand, minJaccard))

  /** Portable 16-bit SimHash: per token, md5 nibbles 1..16 vote +1/-1 on
    * the corresponding bit; the sign of each bit-sum is the fingerprint
    * bit. md5-based so Spark and DuckDB compute identical fingerprints,
    * like the 64-bit variant below (same hash, 4x the bits).
    *
    * Runs through the codegen'd [[graft.ext.expr.Simhash16Expr]]: the
    * previous explode + groupBy + 16 conditional sums shuffled every
    * token of the corpus; the expression is one fused map-side pass
    * (measured ~5x at sf0.1), same bits ([[simhash16Expanded]] keeps the
    * expression-free formulation; ExtSpec pins them equal).
    */
  def simhash16(docs: DataFrame): DataFrame = {
    graft.ext.expr.Simhash16Expr.ensureRegistered(docs.sparkSession)
    docs.select(col("doc_id"),
      call_function(graft.ext.expr.Simhash16Expr.name, col("text")).as("simhash_bits"))
      .orderBy(col("doc_id"))
  }

  /** Built-in-only formulation of [[simhash16]] (explode + md5 + 16
    * bit-sums) — registration-free fallback and the equivalence witness
    * for the codegen'd expression.
    */
  def simhash16Expanded(docs: DataFrame): DataFrame = {
    val tok = explode(TextOps.tokens(col("text"))).as("w")
    val exploded = docs.select(col("doc_id"), tok)
    val high = Seq("8", "9", "a", "b", "c", "d", "e", "f")
    val bitSums = (0 until 16).map { j =>
      sum(when(substring(md5(col("w")), j + 1, 1).isInCollection(high), 1L).otherwise(-1L))
        .as(s"b$j")
    }
    exploded.groupBy(col("doc_id")).agg(bitSums.head, bitSums.tail: _*)
      .select(col("doc_id"),
        concat((0 until 16).map(j => when(col(s"b$j") >= 0, "1").otherwise("0")): _*)
          .as("simhash_bits"))
      .orderBy(col("doc_id"))
  }

  /** SimHash near-dup pairs from the 64-bit fingerprints: band each
    * fingerprint into 4x16-bit blocks — by pigeonhole, any pair within
    * hamming distance 3 agrees on at least one whole block — bucket-join
    * per (block, value), then verify exact hamming distance on the
    * candidates only. Same candidates-then-verify shape as MinHash+LSH,
    * but the per-doc sketch is 8 bytes and the verify step is one XOR.
    */
  def simhashNearDup(docs: DataFrame, maxHamming: Int = 3): DataFrame = {
    require(maxHamming <= 3, "4x16 banding only guarantees recall for hamming <= 3")
    val fp = simhash64(docs).select(col("doc_id"), col("simhash64"))
    val blocks = fp.select(col("doc_id"), col("simhash64"),
      explode(array((0 until 4).map { b =>
        struct(lit(b).as("blk"),
          shiftrightunsigned(col("simhash64"), b * 16).bitwiseAND(lit(0xFFFFL)).as("key"))
      }: _*)).as("bb"))
      .select(col("doc_id"), col("simhash64"), col("bb.blk").as("blk"), col("bb.key").as("key"))
    val a = blocks.select(col("blk"), col("key"), col("doc_id").as("doc_a"), col("simhash64").as("fp_a"))
    val b = blocks.select(col("blk"), col("key"), col("doc_id").as("doc_b"), col("simhash64").as("fp_b"))
    a.join(b, Seq("blk", "key")).filter(col("doc_a") < col("doc_b"))
      .select(col("doc_a"), col("doc_b"),
        expr("bit_count(fp_a ^ fp_b)").cast("int").as("hamming"))
      .distinct()
      .filter(col("hamming") <= maxHamming)
      .orderBy(col("doc_a"), col("doc_b"))
  }

  /** 64-bit SimHash fingerprint; [[simhashNearDup]] bands it into
    * 4x16-bit blocks for pair generation (hamming<=3 guarantees a
    * matching block).
    *
    * Default path is the native codegen'd expression
    * [[graft.ext.expr.Simhash64Expr]] (`graft_simhash64`): per-token
    * md5-high-64 (first 8 digest bytes big-endian — reconstructible in
    * any engine from the md5 hex string, so the fingerprints are an
    * engine-independent contract and the DuckDB oracle replays them
    * bit-for-bit) votes +-1 per bit, fingerprint bit = vote sign,
    * computed INSIDE WholeStageCodegen — columnar scan input preserved,
    * no row deserialization. [[simhash64Kernel]] is the mapPartitions
    * formulation of the identical hash, kept as the registration-free
    * fallback; ExtSpec pins them bit-equal.
    */
  def simhash64(docs: DataFrame): DataFrame = {
    graft.ext.expr.Simhash64Expr.ensureRegistered(docs.sparkSession)
    docs.select(col("doc_id").cast("long").as("doc_id"),
      call_function(graft.ext.expr.Simhash64Expr.name, col("text")).as("simhash64"))
      .orderBy(col("doc_id"))
  }

  /** mapPartitions fallback for [[simhash64]] — same fingerprints via
    * the same static kernel contract (split(" ", -1) tokens, md5 high
    * 64 bits big-endian); no function registration required.
    */
  def simhash64Kernel(docs: DataFrame): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    docs.select(col("doc_id").cast("long"), col("text"))
      .as[(Long, String)]
      .mapPartitions { rows =>
        val md = java.security.MessageDigest.getInstance("MD5")
        rows.map { case (docId, text) =>
          val votes = new Array[Int](64)
          val toks = text.split(" ", -1)
          var i = 0
          while (i < toks.length) {
            md.reset()
            md.update(toks(i).getBytes(java.nio.charset.StandardCharsets.UTF_8))
            val h = graft.ext.expr.TextKernels.md5High64(md.digest())
            var j = 0
            while (j < 64) {
              votes(j) += (((h >>> j) & 1L).toInt << 1) - 1 // bit -> +1/-1
              j += 1
            }
            i += 1
          }
          var fp = 0L
          var j = 0
          while (j < 64) { if (votes(j) >= 0) fp |= 1L << j; j += 1 }
          (docId, fp)
        }
      }
      .toDF("doc_id", "simhash64")
      .orderBy(col("doc_id"))
  }

  /** DuckDB SQL replay of [[simhash64]]: per token, bit j of the hash
    * is recovered from md5 hex char `16 - j/4` (the 64-bit value is the
    * first 16 hex chars big-endian, so nibble `j/4`-from-LSB lives at
    * 1-based char `16 - j/4`), votes summed per (doc, bit), fingerprint
    * assembled with signed bit-63 handling. Same replay-the-engine-hash
    * pattern as [[graft.ext.Similarity.annTopKOracleSql]].
    */
  def simhash64OracleSql(table: String = "documents"): String =
    s"""${simhash64FpCte(table)}
SELECT doc_id, f AS simhash64 FROM fp ORDER BY doc_id"""

  /** DuckDB SQL replay of [[simhashNearDup]]: fingerprints via
    * [[simhash64OracleSql]]'s CTE, banded into the same 4x16-bit
    * blocks, candidate pairs from block-key equality, exact hamming on
    * candidates only — the oracle runs the SAME approximate algorithm,
    * so it checks the real banded answer, not an all-pairs idealization.
    */
  def simhashNearDupOracleSql(table: String = "documents", maxHamming: Int = 3): String =
    s"""${simhash64FpCte(table)},
blocks AS (
  SELECT doc_id, f, b.blk, (f >> (b.blk * 16)) & 65535 AS key
  FROM fp, range(4) b(blk)
),
cand AS (
  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b,
    CAST(bit_count(xor(a.f, b.f)) AS INTEGER) AS hamming
  FROM blocks a JOIN blocks b ON a.blk = b.blk AND a.key = b.key AND a.doc_id < b.doc_id
)
SELECT doc_a, doc_b, hamming FROM cand WHERE hamming <= $maxHamming
ORDER BY doc_a, doc_b"""

  /** Shared `WITH ... fp(doc_id, f)` prefix for the simhash64 oracles. */
  private def simhash64FpCte(table: String): String =
    s"""WITH toks AS (
  SELECT doc_id, unnest(string_split(text, ' ')) AS tok FROM $table
),
votes AS (
  SELECT doc_id, r.j,
    SUM(CASE WHEN ((strpos('0123456789abcdef', substr(md5(tok), 16 - (r.j // 4), 1)) - 1)
                   >> (r.j % 4)) & 1 = 1 THEN 1 ELSE -1 END) AS v
  FROM toks, range(64) r(j)
  GROUP BY 1, 2
),
fp AS (
  SELECT doc_id,
    CAST(SUM(CASE WHEN v >= 0 THEN
      CASE WHEN j = 63 THEN CAST(-9223372036854775808 AS BIGINT) ELSE (CAST(1 AS BIGINT) << j) END
    ELSE 0 END) AS BIGINT) AS f
  FROM votes GROUP BY 1
)"""
}
