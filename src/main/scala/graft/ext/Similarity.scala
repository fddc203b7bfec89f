package graft.ext

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Vector similarity over the `embeddings` fixture
  * (vec_id, embedding array<float> dim=64, label).
  *
  * Built-in higher-order functions only (zip_with/aggregate/transform) —
  * codegen'd, no UDF. Vectors are cast to double before any arithmetic so
  * both engines (and any partitioning) produce identical per-pair values.
  *
  * Scale paths: brute force is the correctness baseline (O(n) per query,
  * O(n^2) pairwise); random-hyperplane LSH buckets cut the candidate set
  * for both ANN queries and near-dup sweeps.
  */
object Similarity {

  /** Dot product via the native codegen'd expression
    * [[graft.ext.expr.ArrayDotProduct]] (`graft_dot`). Callers at the
    * DataFrame level must ensure the function is registered on the
    * session ([[graft.ext.expr.ArrayDotProduct.ensureRegistered]]) —
    * every public op in this object does.
    */
  def dot(a: Column, b: Column): Column = call_function("graft_dot", a, b)

  /** Built-in-only dot product (aggregate/zip_with) — interpreted
    * (~50x slower at dim 64); kept as the zero-registration fallback.
    * Matches [[dot]] for equal-length arrays (the vector case). They
    * diverge on ragged inputs: zip_with pads the shorter array with
    * nulls so this returns NULL, while the native expression iterates
    * min(length) and returns a number.
    */
  /** Maximal-Marginal-Relevance diverse top-k: greedily select items
    * maximizing `lam * sim(query, x) - lamC * max_{s in selected}
    * sim(x, s)` — the standard redundancy-suppressing selection for
    * RAG context packing and diverse few-shot sampling, where plain
    * cosine top-k returns k near-copies of the same best hit.
    *
    * `lamC` is passed EXPLICITLY (not computed as 1 - lam): 1.0 - 0.7
    * is 0.30000000000000004 in IEEE doubles, and the oracle states
    * literal 0.3 — both engines must run the same constant.
    *
    * Scale shape: one distributed exact-cosine pass prunes the corpus
    * to a `poolSize` candidate pool (TakeOrdered — the same shape as
    * [[cosineTopK]]); the greedy loop then runs k tiny argmax jobs
    * over the eagerly-checkpointed pool, shipping exactly ONE row
    * (id + unit vector) to the driver per round — driver state is
    * O(k * dim) by contract, never corpus-sized. Vectors are
    * L2-normalized once so every similarity is a single index-order
    * dot product — bit-identical across engines; ties break on vec_id.
    */
  def mmrSelect(emb: DataFrame, queryId: Long = 0L, poolSize: Int = 50,
      k: Int = 8, lam: Double = 0.7, lamC: Double = 0.3): DataFrame = {
    val spark = emb.sparkSession
    val unit = (v: Column, nrm: Column) => transform(v, x => x / nrm)
    val q = emb.filter(col("vec_id") === queryId)
      .select(col("embedding").cast("array<double>").as("v"))
      .select(unit(col("v"), sqrt(dot(col("v"), col("v")))).as("qnv"))
    val pool = emb.filter(col("vec_id") =!= queryId)
      .select(col("vec_id").cast("long").as("vec_id"),
        col("embedding").cast("array<double>").as("v"))
      .select(col("vec_id"), unit(col("v"), sqrt(dot(col("v"), col("v")))).as("nv"))
      .crossJoin(broadcast(q))
      .withColumn("simq", dot(col("nv"), col("qnv")))
      .select(col("vec_id"), col("nv"), col("simq"))
      .orderBy(col("simq").desc, col("vec_id")).limit(poolSize)
      .localCheckpoint(true)
    final case class Sel(rank: Int, id: Long, simq: Double, score: Double, nv: Seq[Double])
    val selected = scala.collection.mutable.ArrayBuffer.empty[Sel]
    for (i <- 1 to k) {
      val remaining =
        if (selected.isEmpty) pool
        else pool.filter(!col("vec_id").isInCollection(selected.map(_.id)))
      val score =
        if (selected.isEmpty) lit(lam) * col("simq")
        else {
          val sims = selected.map(s => dot(col("nv"), typedLit(s.nv.toArray))).toSeq
          val maxSel = if (sims.size == 1) sims.head else greatest(sims: _*)
          lit(lam) * col("simq") - lit(lamC) * maxSel
        }
      val row = remaining.withColumn("score", score)
        .orderBy(col("score").desc, col("vec_id")).limit(1)
        .select(col("vec_id"), col("simq"), col("score"), col("nv")).head()
      selected += Sel(i, row.getLong(0), row.getDouble(1), row.getDouble(2),
        row.getSeq[Double](3))
    }
    // same floor(x*1e4)/1e4 arithmetic as Num.trunc4, applied driver-side
    def t4(x: Double): Double = math.floor(x * 10000.0) / 10000.0
    val out = selected.map(s => (s.rank, s.id, t4(s.simq), t4(s.score)))
    import spark.implicits._
    out.toSeq.toDF("sel_rank", "vec_id", "simq4", "mmr4").orderBy(col("sel_rank"))
  }

  def dotHof(a: Column, b: Column): Column =
    aggregate(zip_with(a, b, (x, y) => x * y), lit(0.0), (acc, v) => acc + v)

  def norm2(a: Column): Column = sqrt(dot(a, a))

  /** Cosine similarity of two array<float|double> columns. The native
    * expression widens float elements to double per-element, so no
    * array-copying cast is needed on the inputs.
    */
  def cosine(a: Column, b: Column): Column =
    dot(a, b) / (norm2(a) * norm2(b))

  /** Brute-force top-k nearest neighbours of `queryVecId` by cosine.
    * The one-row query side is broadcast, so the plan is a single
    * map-side pass over embeddings + TakeOrderedAndProject — no shuffle
    * of the corpus. This is the exact baseline ANN answers are judged
    * against.
    */
  def bruteForceTopK(embeddings: DataFrame, queryVecId: Long, k: Int): DataFrame = {
    graft.ext.expr.ArrayDotProduct.ensureRegistered(embeddings.sparkSession)
    val q = broadcast(
      embeddings.filter(col("vec_id") === queryVecId)
        .select(col("embedding").as("q_emb")))
    embeddings
      .filter(col("vec_id") =!= queryVecId)
      .crossJoin(q)
      .select(col("vec_id"), Num.trunc4(cosine(col("embedding"), col("q_emb"))).as("cos_sim"))
      .orderBy(col("cos_sim").desc, col("vec_id"))
      .limit(k)
  }

  /** Matryoshka-style dimension-truncation evaluation: for each prefix
    * length d, the overlap between the exact cosine top-k computed on
    * only the FIRST d dimensions and the full-dimension top-k — the
    * measurement behind "how many dims can we drop before retrieval
    * degrades", which decides index memory at serving time.
    *
    * Scale shape: one broadcast of the single query row, one map-side
    * pass per truncation (cosine on `slice()`d arrays fused into the
    * scan), TakeOrderedAndProject per truncation, and the overlap is an
    * intersect of two k-row sets. Ties broken by vec_id everywhere, so
    * the top-k boundary is deterministic on any engine.
    */
  def dimTruncationEval(
      embeddings: DataFrame,
      queryVecId: Long = 0L,
      k: Int = 10,
      dims: Seq[Int] = Seq(8, 16, 32, 64)): DataFrame = {
    graft.ext.expr.ArrayDotProduct.ensureRegistered(embeddings.sparkSession)
    def topAt(d: Int): DataFrame = {
      val q = broadcast(
        embeddings.filter(col("vec_id") === queryVecId)
          .select(slice(col("embedding"), 1, d).as("q_emb")))
      embeddings
        .filter(col("vec_id") =!= queryVecId)
        .crossJoin(q)
        .select(col("vec_id"),
          Num.trunc4(cosine(slice(col("embedding"), 1, d), col("q_emb"))).as("cos_sim"))
        .orderBy(col("cos_sim").desc, col("vec_id"))
        .limit(k)
        .select(col("vec_id"))
    }
    val full = topAt(dims.max)
    dims.map { d =>
      val hit = topAt(d).intersect(full)
        .agg(count(lit(1)).cast("long").as("overlap"))
      hit.select(lit(d).as("trunc_dim"), col("overlap"),
        Num.trunc4(col("overlap").cast("double") / lit(k.toDouble)).as("recall4"))
    }.reduce(_ unionAll _)
      .orderBy(col("trunc_dim"))
  }

  /** Deterministic pseudo-random unit hyperplanes (seeded) — generated on
    * the driver, embedded as literals, broadcast with the plan.
    */
  private def hyperplanes(numPlanes: Int, dim: Int, seed: Long): Array[Array[Double]] = {
    val rnd = new scala.util.Random(seed)
    Array.fill(numPlanes)(Array.fill(dim)(rnd.nextGaussian()))
  }

  private def planeLit(p: Array[Double]): Column = array(p.map(lit(_)): _*)

  /** SQL text for the bucket id of vector column `v` under `planes` —
    * the DuckDB statement of [[lshBucket]], shared by both oracle
    * generators so the bucketing can never silently diverge between
    * them. `Double.toString` literals round-trip to identical bits.
    */
  private def bucketExprSql(planes: Array[Array[Double]]): String =
    planes.zipWithIndex.map { case (p, i) =>
      s"(CASE WHEN list_dot_product(v, ${p.mkString("[", ", ", "]")}) >= 0 " +
        s"THEN ${1L << i} ELSE 0 END)"
    }.mkString(" + ")

  /** `bkt0..bktN` select-list items for all tables (seeded identically
    * to the Spark side).
    */
  private def bucketColsSql(numPlanes: Int, numTables: Int, dim: Int, seed: Long): String =
    (0 until numTables)
      .map(t => s"${bucketExprSql(hyperplanes(numPlanes, dim, seed + t))} AS bkt$t")
      .mkString(",\n  ")

  /** Sign-bit LSH bucket id for a vector: bit i = (v . plane_i) >= 0. */
  def lshBucket(v: Column, planes: Array[Array[Double]]): Column =
    planes.zipWithIndex.map { case (p, i) =>
      when(dot(v, planeLit(p)) >= 0, shiftleft(lit(1L), i)).otherwise(0L)
    }.reduce((a: Column, b: Column) => a.bitwiseOR(b))

  /** LSH-bucketed approximate top-k: `numTables` independent sign-LSH
    * tables; candidates = vectors sharing the query's bucket in ANY
    * table; exact cosine on candidates only. At corpus scale the bucket
    * map-side filter replaces the full scan with ~n/2^numPlanes
    * candidates per table.
    */
  def annTopK(
      embeddings: DataFrame,
      queryVecId: Long,
      k: Int,
      numPlanes: Int = 8,
      numTables: Int = 4,
      dim: Int = 64,
      seed: Long = 42L): DataFrame = {
    graft.ext.expr.ArrayDotProduct.ensureRegistered(embeddings.sparkSession)
    val tables = (0 until numTables).map(t => hyperplanes(numPlanes, dim, seed + t))
    val bucketCols = tables.zipWithIndex.map { case (planes, t) =>
      lshBucket(col("embedding"), planes).as(s"bkt$t")
    }
    // spread: numTables*numPlanes dim-length dots per row to compute
    // the bucket signatures (see Tables.spread; no-op on wide scans)
    val withBuckets =
      graft.Tables.spread(embeddings).select(col("vec_id") +: col("embedding") +: bucketCols: _*)
    val q = broadcast(
      withBuckets.filter(col("vec_id") === queryVecId)
        .select(col("embedding").as("q_emb") +:
          (0 until numTables).map(t => col(s"bkt$t").as(s"q_bkt$t")): _*))
    val sameBucket = (0 until numTables)
      .map(t => col(s"bkt$t") === col(s"q_bkt$t"))
      .reduce(_ || _)
    withBuckets
      .filter(col("vec_id") =!= queryVecId)
      .crossJoin(q)
      .filter(sameBucket)
      .select(col("vec_id"), Num.trunc4(cosine(col("embedding"), col("q_emb"))).as("cos_sim"))
      .orderBy(col("cos_sim").desc, col("vec_id"))
      .limit(k)
  }

  /** DuckDB oracle for [[annTopK]]: the sign-LSH bucketing is fully
    * deterministic (seeded driver-side hyperplanes), so the oracle can
    * state the SAME computation in ANSI SQL with the plane vectors
    * embedded as double literals — `Double.toString` emits the shortest
    * round-trip decimal, which DuckDB's strtod parses back to the
    * identical bit pattern, and `list_dot_product` accumulates in index
    * order exactly like `graft_dot`. This turns the "approximate by
    * design" query into a hash-gated one: approximate vs brute force,
    * but bit-deterministic given the seed.
    */
  def annTopKOracleSql(
      queryVecId: Long = 0L,
      k: Int = 10,
      numPlanes: Int = 8,
      numTables: Int = 4,
      dim: Int = 64,
      seed: Long = 42L): String = {
    val bcols = bucketColsSql(numPlanes, numTables, dim, seed)
    val qcols = (0 until numTables).map(t => s"bkt$t AS qb$t").mkString(", ")
    val cond = (0 until numTables).map(t => s"b.bkt$t = q.qb$t").mkString(" OR ")
    val cosExpr = "list_dot_product(b.v, q.qv) / " +
      "(sqrt(list_dot_product(b.v, b.v)) * sqrt(list_dot_product(q.qv, q.qv)))"
    s"""WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
b AS (SELECT vec_id, v,
  $bcols
  FROM e),
q AS (SELECT v AS qv, $qcols FROM b WHERE vec_id = $queryVecId)
SELECT b.vec_id, floor(($cosExpr) * 10000) / 10000.0 AS cos_sim
FROM b, q
WHERE b.vec_id <> $queryVecId AND ($cond)
ORDER BY cos_sim DESC, b.vec_id LIMIT $k"""
  }

  /** DuckDB oracle for [[lshCosinePairs]] — same literal-embedding idea
    * as [[annTopKOracleSql]]: per-table candidate generation is an
    * EQUI-join on the bucket id (union over tables, then DISTINCT),
    * mirroring the Spark plan's shape so the oracle runs as hash joins,
    * not an O(n^2) OR-condition nested loop.
    */
  def lshCosinePairsOracleSql(
      k: Int = 20,
      numPlanes: Int = 8,
      numTables: Int = 4,
      dim: Int = 64,
      seed: Long = 42L): String = {
    val bcols = bucketColsSql(numPlanes, numTables, dim, seed)
    val unions = (0 until numTables).map { t =>
      s"SELECT a.vec_id AS vec_a, c.vec_id AS vec_b FROM b a JOIN b c ON a.bkt$t = c.bkt$t AND a.vec_id < c.vec_id"
    }.mkString("\n  UNION ALL\n  ")
    val cosExpr = "list_dot_product(ba.v, bb.v) / " +
      "(sqrt(list_dot_product(ba.v, ba.v)) * sqrt(list_dot_product(bb.v, bb.v)))"
    s"""WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
b AS (SELECT vec_id, v,
  $bcols
  FROM e),
cand AS (SELECT DISTINCT vec_a, vec_b FROM (
  $unions)),
scored AS (
  SELECT cand.vec_a, cand.vec_b, floor(($cosExpr) * 10000) / 10000.0 AS cos_sim
  FROM cand JOIN b ba ON ba.vec_id = cand.vec_a JOIN b bb ON bb.vec_id = cand.vec_b)
SELECT vec_a, vec_b, cos_sim FROM scored
ORDER BY cos_sim DESC, vec_a, vec_b LIMIT $k"""
  }

  /** Top pairwise cosine pairs (embedding near-dup sweep). Exact O(n^2)
    * compute, fully distributed — NOTHING is ever materialized on the
    * driver (the previous revision collect()ed the corpus; that ceiling
    * is gone).
    *
    * Shape: block-nested self-join. Each vector hashes to one of
    * `numBlocks` (=B) blocks; each unordered block pair (i,j), i<=j, is
    * one shuffle group; a vector in block g is replicated to the B
    * groups {(min(g,h),max(g,h)) : h < B}, so every vector PAIR meets in
    * exactly one group. Per group, a tight primitive-loop kernel scores
    * its <= 2n/B vectors pairwise and keeps a top-k heap ordered by the
    * FINAL output ordering (truncated cosine desc, then ids asc) — so
    * per-group top-k merge is exact, no slack needed.
    *
    * Scale accounting: shuffle volume is B*n rows (choose
    * B ~ sqrt(2 * cluster cores) for full parallelism over B(B+1)/2
    * groups); per-task memory is ~(2n/B)*dim*8 bytes; compute is the
    * irreducible n^2/2 dots spread over all tasks. When exact all-pairs
    * compute itself is too much (n >> 10^7), switch to the approximate
    * [[lshCosinePairs]], which only scores within LSH buckets.
    *
    * Determinism vs the DuckDB oracle: dot/norm accumulate in index
    * order (same association as list_dot_product), division happens
    * once per pair, truncation once at the end — bit-identical doubles.
    */
  def topCosinePairs(embeddings: DataFrame, k: Int, numBlocks: Int = 8): DataFrame = {
    val spark = embeddings.sparkSession
    import spark.implicits._
    val B = numBlocks
    val ds = embeddings
      .select(col("vec_id").cast("long"), col("embedding").cast("array<double>"))
      .as[(Long, Array[Double])]
    // (groupKey, block, id, vec): B replicas per vector, one per group
    // containing its block.
    val replicated = ds.flatMap { case (id, v) =>
      val g = java.lang.Math.floorMod(id, B.toLong).toInt
      (0 until B).iterator.map { h =>
        (math.min(g, h) * B + math.max(g, h), g, id, v)
      }
    }
    // Heap keeps the WORST candidate on top, "worst" by the final output
    // ordering (trunc4(cos) desc, vec_a asc, vec_b asc) — pruning and
    // output order agree, so per-group top-k is globally sufficient.
    val worstFirst: Ordering[(Long, Long, Double)] =
      Ordering.by { case (a, b, t) => (-t, a, b) }
    val grouped = replicated.groupByKey(_._1).flatMapGroups { (key, it) =>
      val blkI = key / B
      val blkJ = key % B
      val left = scala.collection.mutable.ArrayBuffer.empty[(Long, Array[Double])]
      val right = scala.collection.mutable.ArrayBuffer.empty[(Long, Array[Double])]
      it.foreach { case (_, g, id, v) =>
        if (g == blkI) left += ((id, v))
        if (g == blkJ && blkJ != blkI) right += ((id, v))
      }
      def norm(v: Array[Double]): Double = {
        var s = 0.0; var i = 0
        while (i < v.length) { s += v(i) * v(i); i += 1 }
        math.sqrt(s)
      }
      val pq = scala.collection.mutable.PriorityQueue.empty[(Long, Long, Double)](worstFirst)
      def score(ida: Long, va: Array[Double], na: Double,
          idb: Long, vb: Array[Double], nb: Double): Unit = {
        val a = math.min(ida, idb); val b = math.max(ida, idb)
        val (v1, v2) = if (ida <= idb) (va, vb) else (vb, va)
        var dot = 0.0; var d = 0
        while (d < v1.length) { dot += v1(d) * v2(d); d += 1 }
        val cos = dot / (na * nb)
        val t = math.floor(cos * 10000.0) / 10000.0 // = Num.trunc4
        val cand = (a, b, t)
        if (pq.size < k) pq.enqueue(cand)
        else if (worstFirst.lt(cand, pq.head)) { pq.dequeue(); pq.enqueue(cand) }
      }
      if (blkI == blkJ) {
        val arr = left.toArray
        val norms = arr.map(p => norm(p._2))
        var i = 0
        while (i < arr.length) {
          var j = i + 1
          while (j < arr.length) {
            if (arr(i)._1 != arr(j)._1)
              score(arr(i)._1, arr(i)._2, norms(i), arr(j)._1, arr(j)._2, norms(j))
            j += 1
          }
          i += 1
        }
      } else {
        val la = left.toArray; val ra = right.toArray
        val ln = la.map(p => norm(p._2)); val rn = ra.map(p => norm(p._2))
        var i = 0
        while (i < la.length) {
          var j = 0
          while (j < ra.length) {
            score(la(i)._1, la(i)._2, ln(i), ra(j)._1, ra(j)._2, rn(j))
            j += 1
          }
          i += 1
        }
      }
      pq.iterator
    }
    grouped.toDF("vec_a", "vec_b", "cos_sim")
      .orderBy(col("cos_sim").desc, col("vec_a"), col("vec_b"))
      .limit(k)
  }

  /** IVF-Flat approximate top-k: spherical k-means coarse quantizer
    * (seeded deterministic init + `iters` distributed Lloyd rounds),
    * every vector assigned to its nearest centroid ("inverted list"),
    * queries probe only the `nProbe` nearest lists and score those
    * candidates exactly.
    *
    * Scale shape: training touches each vector `iters` times map-side
    * (aggregateByKey carries numCentroids x dim partial sums, nothing
    * row-proportional crosses the wire); at query time the candidate
    * scan is ~nProbe/numCentroids of the corpus. At 100 TB the
    * assignment would be precomputed once and the table bucketed by
    * cluster id so a probe is a partition-pruned read.
    *
    * Complements [[annTopK]] (sign-LSH): IVF adapts to the data
    * distribution (learned centroids) where LSH is data-oblivious.
    */
  private[ext] def normalize(v: Array[Double]): Array[Double] = {
    var s = 0.0; var i = 0
    while (i < v.length) { s += v(i) * v(i); i += 1 }
    val n = math.sqrt(s)
    if (n == 0) v else v.map(_ / n)
  }

  /** Fixed-point image of the L2-normalized vector on a 1e-6 grid,
    * carried as INTEGER-VALUED doubles: r6 = floor(x*1e6) per element,
    * norm = sqrt(sum r6^2), q6 = floor(r6/norm*1e6). Every value and
    * every sum below 2^53 is exact, so all downstream IVF arithmetic
    * (Lloyd assignment distances, centroid means, dot-product scoring)
    * is order-independent integer math — which is what lets the whole
    * IVF family be oracle-checked by an unrolled SQL CTE chain instead
    * of `no_oracle` (doubles' non-associative sums made the previous
    * formulation data-order-dependent). The sqrt/division steps are
    * IEEE-deterministic given identical integer inputs, and the SQL
    * oracle states the identical expression order.
    */
  private[ext] def quant6(v: Array[Double]): Array[Double] = {
    val r6 = new Array[Double](v.length)
    var ss = 0.0
    var i = 0
    while (i < v.length) {
      val r = math.floor(v(i) * 1.0e6); r6(i) = r; ss += r * r; i += 1
    }
    val nrm = math.sqrt(ss)
    if (nrm == 0.0) new Array[Double](v.length)
    else {
      var j = 0
      while (j < v.length) { r6(j) = math.floor(r6(j) / nrm * 1.0e6); j += 1 }
      r6
    }
  }

  /** Exact squared distance between two integer-valued q6 images
    * (diffs <= 2e6, squares <= 4e12, 64-dim sum <= 2.56e14 < 2^53 —
    * every double op exact).
    */
  private[ext] def dist6(a: Array[Double], b: Array[Double]): Double = {
    var d = 0.0; var i = 0
    while (i < a.length) { val t = a(i) - b(i); d += t * t; i += 1 }
    d
  }

  /** Nearest centroid by exact squared distance; strict `<` keeps the
    * SMALLEST index on ties — the same rule as the oracle's
    * `ROW_NUMBER() OVER (ORDER BY dist, cluster)`.
    */
  private[ext] def nearest(cs: Array[Array[Double]], v: Array[Double]): Int = {
    var best = 0; var bestD = Double.PositiveInfinity
    var c = 0
    while (c < cs.length) {
      val d = dist6(cs(c), v)
      if (d < bestD) { bestD = d; best = c }
      c += 1
    }
    best
  }

  /** k-means coarse quantizer over q6-normalized points: deterministic
    * init (the numCentroids vectors with smallest Knuth multiplicative
    * hash (vec_id * 2654435761) mod 2^32 — a seeded pseudo-random
    * sample expressible in plain SQL, so the oracle reproduces it),
    * `iters` distributed Lloyd rounds on EXACT integer arithmetic:
    * assignment by integer squared distance, update by
    * floor(sum/count) on long partial sums. Per round only
    * numCentroids x dim partials cross the wire (aggregateByKey),
    * nothing row-proportional; empty clusters keep their centroid.
    * Returned centroids are integer-valued doubles (exact through
    * parquet round-trips in [[ivfBuildIndex]]/[[ivfLoadIndex]]).
    */
  private[graft] def trainCentroids(
      embeddings: DataFrame,
      numCentroids: Int,
      iters: Int,
      driverVecMax: Long = KmeansDriverVecMax): Array[Array[Double]] = {
    val spark = embeddings.sparkSession
    import spark.implicits._
    // spread: quantize + nearest-centroid is numCentroids*dim mults
    // per row per Lloyd round (see Tables.spread; no-op on wide scans)
    // Measured-small driver fast path (same gate family as
    // [[kmeansExact]]): each Lloyd iter below is a full distributed
    // job (rdd map + aggregateByKey + collect) — pure scheduling
    // overhead when the vectors fit the driver. Arithmetic is
    // identical: same Knuth-hash seed order, same quant6 grid, same
    // nearest tie-break, exact long sums (order-free) and the same
    // floor(sum/count) update — so the trained centroids are
    // bit-equal (pinned in ExtSpec).
    if (embeddings.count() <= driverVecMax) {
      val rows = collectVecs(embeddings)
      if (rows.nonEmpty) {
        var cents = rows
          .map(p => ((p._1 * 2654435761L) % 4294967296L, p._1, p._2))
          .sortBy(t => (t._1, t._2)).take(numCentroids).map(t => quant6(t._3))
        val dim = cents.head.length
        for (_ <- 0 until iters) {
          val sums = scala.collection.mutable.Map[Int, (Array[Long], Long)]()
          rows.foreach { case (_, v) =>
            val q = quant6(v)
            val c = nearest(cents, q)
            val (acc, n) = sums.getOrElseUpdate(c, (new Array[Long](dim), 0L))
            var i = 0; while (i < dim) { acc(i) += q(i).toLong; i += 1 }
            sums(c) = (acc, n + 1)
          }
          cents = cents.indices.map { c =>
            sums.get(c).filter(_._2 > 0)
              .map { case (s, n) => s.map(x => math.floor(x.toDouble / n.toDouble)) }
              .getOrElse(cents(c))
          }.toArray
        }
        return cents
      }
    }
    val ds = graft.Tables.spread(embeddings
      .select(col("vec_id").cast("long"), col("embedding").cast("array<double>")))
      .as[(Long, Array[Double])]
    var centroids: Array[Array[Double]] = ds
      .select(((col("vec_id") * lit(2654435761L)) % lit(4294967296L)).as("h"),
        col("vec_id"), col("embedding"))
      .orderBy(col("h"), col("vec_id"))
      .limit(numCentroids)
      .select(col("vec_id"), col("embedding"))
      .as[(Long, Array[Double])].collect().map(p => quant6(p._2))
    for (_ <- 0 until iters) {
      val bc = spark.sparkContext.broadcast(centroids)
      val dim = centroids.head.length
      val sums = ds.rdd
        .map { case (_, v) => val q = quant6(v); (nearest(bc.value, q), q) }
        .aggregateByKey((new Array[Long](dim), 0L))(
          { case ((acc, n), v) =>
            var i = 0; while (i < dim) { acc(i) += v(i).toLong; i += 1 }; (acc, n + 1) },
          { case ((a, na), (b, nb)) =>
            var i = 0; while (i < dim) { a(i) += b(i); i += 1 }; (a, na + nb) })
        .collect().toMap
      centroids = centroids.indices.map { c =>
        sums.get(c).filter(_._2 > 0)
          // floor(sum/count) in doubles — the oracle's
          // floor(CAST(SUM AS DOUBLE) / CAST(COUNT AS DOUBLE)) verbatim
          .map { case (s, n) => s.map(x => math.floor(x.toDouble / n.toDouble)) }
          .getOrElse(centroids(c)) // empty cluster keeps its centroid
      }.toArray
    }
    centroids
  }

  /** q6 dot-product score, truncated to the 1e-4 grid: q6 values are
    * unit-scale x 1e6, so dot/1e12 ~ cosine; floor(dot/1e8)/1e4 states
    * the exact op order the oracle repeats.
    */
  private[ext] def score6(a: Array[Double], b: Array[Double]): Double = {
    var d = 0.0; var i = 0
    while (i < a.length) { d += a(i) * b(i); i += 1 }
    math.floor(d / 1.0e8) / 10000.0
  }

  def ivfTopK(
      embeddings: DataFrame,
      queryVecId: Long,
      k: Int,
      numCentroids: Int = 16,
      nProbe: Int = 4,
      iters: Int = 2): DataFrame = {
    val spark = embeddings.sparkSession
    import spark.implicits._
    val ds = graft.Tables.spread(embeddings
      .select(col("vec_id").cast("long"), col("embedding").cast("array<double>")))
      .as[(Long, Array[Double])]
    val centroids = trainCentroids(embeddings, numCentroids, iters)

    val bcFinal = spark.sparkContext.broadcast(centroids)
    val qRows = ds.filter(_._1 == queryVecId).take(1)
    if (qRows.isEmpty) {
      // match bruteForceTopK/annTopK: unknown query id -> empty result
      return ds.sparkSession.emptyDataFrame
        .withColumn("vec_id", lit(0L)).withColumn("cos_sim", lit(0.0)).limit(0)
    }
    val qQ = quant6(qRows.head._2)
    val probes: Set[Int] = centroids.indices
      .sortBy(c => (dist6(centroids(c), qQ), c))
      .take(nProbe).toSet
    ds.filter(_._1 != queryVecId)
      .mapPartitions { rows =>
        val cs = bcFinal.value
        rows.flatMap { case (id, v) =>
          val q = quant6(v)
          if (!probes.contains(nearest(cs, q))) None
          else Some((id, score6(q, qQ)))
        }
      }
      .toDF("vec_id", "cos_sim")
      .orderBy(col("cos_sim").desc, col("vec_id"))
      .limit(k)
  }

  /** k-NN similarity JOIN: exact top-k cosine neighbours in `corpus`
    * for EVERY vector of a (small) query batch — the
    * dedup-against-reference-corpus / retrieval-eval shape, where one
    * query-at-a-time ([[bruteForceTopK]]) would launch |Q| jobs.
    *
    * Scale shape: the query batch is collected to primitive arrays and
    * broadcast (explicitly bounded: |Q| x dim x 8 bytes — the SMALL side
    * by contract, like any broadcast join build side); the corpus is
    * streamed partition-by-partition through a tight kernel holding one
    * bounded heap PER QUERY, pruned on the final output ordering
    * (truncated cosine desc, corpus id asc). Only per-partition top-k
    * survivors are shuffled (numPartitions x |Q| x k rows — never
    * |corpus| x |Q|), and a window rank picks the global top-k per
    * query. The corpus is read once for the whole batch.
    */
  def knnJoin(corpus: DataFrame, queries: DataFrame, k: Int): DataFrame = {
    val spark = corpus.sparkSession
    import spark.implicits._
    val q = queries
      .select(col("vec_id").cast("long"), col("embedding").cast("array<double>"))
      .as[(Long, Array[Double])].collect().sortBy(_._1)
    require(q.nonEmpty, "knnJoin: empty query batch")
    val qIds = q.map(_._1)
    val qVecs = q.map(_._2)
    val qNorms = qVecs.map { v =>
      var s = 0.0; var i = 0
      while (i < v.length) { s += v(i) * v(i); i += 1 }
      math.sqrt(s)
    }
    val bc = spark.sparkContext.broadcast((qIds, qVecs, qNorms))
    val qIdSet = qIds.toSet
    // worst-on-top by final ordering (trunc4 cos desc, corpus id asc)
    val worstFirst: Ordering[(Long, Double)] = Ordering.by { case (id, t) => (-t, id) }
    val partTop = corpus
      .select(col("vec_id").cast("long"), col("embedding").cast("array<double>"))
      .as[(Long, Array[Double])]
      .filter(p => !qIdSet.contains(p._1))
      .mapPartitions { rows =>
        val (qIds, qVecs, qNorms) = bc.value
        val heaps = Array.fill(qIds.length)(
          scala.collection.mutable.PriorityQueue.empty[(Long, Double)](worstFirst))
        rows.foreach { case (id, v) =>
          var n = 0.0
          var i = 0
          while (i < v.length) { n += v(i) * v(i); i += 1 }
          n = math.sqrt(n)
          var qi = 0
          while (qi < qIds.length) {
            val qv = qVecs(qi)
            var dot = 0.0; var d = 0
            while (d < v.length) { dot += qv(d) * v(d); d += 1 }
            val t = math.floor(dot / (qNorms(qi) * n) * 10000.0) / 10000.0 // = Num.trunc4
            val cand = (id, t)
            val pq = heaps(qi)
            if (pq.size < k) pq.enqueue(cand)
            else if (worstFirst.lt(cand, pq.head)) { pq.dequeue(); pq.enqueue(cand) }
            qi += 1
          }
        }
        heaps.iterator.zipWithIndex.flatMap { case (pq, qi) =>
          pq.iterator.map { case (id, t) => (qIds(qi), id, t) }
        }
      }
      .toDF("query_id", "vec_id", "cos_sim")
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("query_id"))
      .orderBy(col("cos_sim").desc, col("vec_id"))
    partTop.withColumn("rnk", row_number().over(w))
      .filter(col("rnk") <= k).drop("rnk")
      .orderBy(col("query_id"), col("cos_sim").desc, col("vec_id"))
  }

  /** Hard-negative mining for contrastive training: for each query
    * vector, the top-k most-similar CORPUS vectors carrying a
    * DIFFERENT label — the near-miss negatives that sharpen a
    * retrieval model far more than random ones.
    *
    * ONE corpus pass (r11): the previous shape ran [[knnJoin]] once per
    * distinct query label (corpus pre-filtered to the opposing labels),
    * which cost one eager label-collect job plus, PER LABEL, a
    * query-collect job and a full corpus scan. The label filter is a
    * per-row predicate, so it moves INSIDE the per-partition heap
    * kernel instead: the query batch (ids, vectors, labels) is
    * collected in one job and broadcast, the corpus streams ONCE, and
    * each row updates only the heaps of queries with a different
    * label. Same candidate set per query (corpus `vec_id >= nQueries`
    * already excluded every query id), same truncated-cosine heap
    * ordering, bit-identical output (ExtSpec pins row-level equality
    * with the per-label union). At L labels this is 1 scan instead of
    * L — the win grows with label vocabulary; measured 1.26 -> 0.23s
    * interleaved medians at sf0.1 (5 pairs, same JVM).
    */
  def hardNegatives(embeddings: DataFrame, nQueries: Int = 5, k: Int = 3): DataFrame = {
    val spark = embeddings.sparkSession
    import spark.implicits._
    val q = embeddings.filter(col("vec_id") < nQueries)
      .select(col("vec_id").cast("long"),
        col("embedding").cast("array<double>"), col("label").cast("int"))
      .as[(Long, Array[Double], Int)].collect().sortBy(_._1)
    require(q.nonEmpty, "hardNegatives: empty query batch")
    val qIds = q.map(_._1)
    val qVecs = q.map(_._2)
    val qLbls = q.map(_._3)
    val qNorms = qVecs.map { v =>
      var s = 0.0; var i = 0
      while (i < v.length) { s += v(i) * v(i); i += 1 }
      math.sqrt(s)
    }
    val bc = spark.sparkContext.broadcast((qIds, qVecs, qNorms, qLbls))
    // worst-on-top by final ordering (trunc4 cos desc, corpus id asc) —
    // identical to [[knnJoin]]'s heap so results are bit-equal
    val worstFirst: Ordering[(Long, Double)] = Ordering.by { case (id, t) => (-t, id) }
    val partTop = embeddings
      .filter(col("vec_id") >= nQueries)
      .select(col("vec_id").cast("long"),
        col("embedding").cast("array<double>"), col("label").cast("int"))
      .as[(Long, Array[Double], Int)]
      .mapPartitions { rows =>
        val (qIds, qVecs, qNorms, qLbls) = bc.value
        val heaps = Array.fill(qIds.length)(
          scala.collection.mutable.PriorityQueue.empty[(Long, Double)](worstFirst))
        rows.foreach { case (id, v, lbl) =>
          var n = 0.0
          var i = 0
          while (i < v.length) { n += v(i) * v(i); i += 1 }
          n = math.sqrt(n)
          var qi = 0
          while (qi < qIds.length) {
            if (lbl != qLbls(qi)) {
              val qv = qVecs(qi)
              var dot = 0.0; var d = 0
              while (d < v.length) { dot += qv(d) * v(d); d += 1 }
              val t = math.floor(dot / (qNorms(qi) * n) * 10000.0) / 10000.0 // = Num.trunc4
              val cand = (id, t)
              val pq = heaps(qi)
              if (pq.size < k) pq.enqueue(cand)
              else if (worstFirst.lt(cand, pq.head)) { pq.dequeue(); pq.enqueue(cand) }
            }
            qi += 1
          }
        }
        heaps.iterator.zipWithIndex.flatMap { case (pq, qi) =>
          pq.iterator.map { case (id, t) => (qIds(qi), id, t) }
        }
      }
      .toDF("query_id", "vec_id", "cos_sim")
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("query_id"))
      .orderBy(col("cos_sim").desc, col("vec_id"))
    partTop.withColumn("rnk", row_number().over(w))
      .filter(col("rnk") <= k).drop("rnk")
      .orderBy(col("query_id"), col("cos_sim").desc, col("vec_id"))
  }

  /** int8 embedding quantization — the storage-scale lever: per-vector
    * symmetric scale (max|x|/127), elements are TINYINT (1 byte) — the
    * 4x-vs-float32 saving is real in memory and on the shuffle wire,
    * not just after parquet encoding — at ~1/254 max relative element
    * error, which near-dup-grade cosine ranking tolerates
    * (recall-tested).
    *
    * Cross-engine determinism: round-half-up is spelled as
    * floor(x/s + 0.5) — identical IEEE ops in any engine — instead of
    * engine-specific round(). All codegen'd built-ins; the scan fuses.
    */
  def quantizeInt8(embeddings: DataFrame): DataFrame =
    embeddings
      .withColumn("emb_d", col("embedding").cast("array<double>"))
      .withColumn("scale", array_max(transform(col("emb_d"), x => abs(x))) / lit(127.0))
      .withColumn("qvec",
        when(col("scale") === 0.0,
          transform(col("emb_d"), _ => lit(0).cast("tinyint")))
          .otherwise(transform(col("emb_d"),
            x => floor(x / col("scale") + lit(0.5)).cast("tinyint"))))
      .select(col("vec_id"), col("scale"), col("qvec"))

  /** Dequantized vectors: qvec * scale, back to array<double>. */
  def dequantize(quantized: DataFrame): DataFrame =
    quantized.select(col("vec_id"),
      transform(col("qvec"), q => q.cast("double") * col("scale")).as("embedding"))

  /** Quantization-error audit for [[quantizeInt8]]: per label, the
    * residual x/s − round(x/s) in UNITS OF THE QUANTIZATION STEP —
    * mean-square (≈1/12 for a healthy uniform residual) and worst
    * case (≤ 0.5 by construction). Reporting step-relative error
    * keeps the statistics O(1) (trunc4 retains resolution; raw MSE at
    * ~1e-5 would truncate to zero) and makes the numbers comparable
    * across vectors with different scales. Zero-scale (all-zero)
    * vectors are excluded — they quantize losslessly.
    *
    * Determinism: x, s, and the residual are identical IEEE doubles in
    * both engines (same floor(x/s + 0.5) spelling as the quantizer);
    * MAX is selection (exact), and the AVG's summation-order noise is
    * absorbed by trunc4 on the O(0.08) value.
    */
  def quantizeError(embeddings: DataFrame): DataFrame = {
    import graft.ext.Num.trunc4
    val s = embeddings
      .withColumn("emb_d", col("embedding").cast("array<double>"))
      .withColumn("sc", array_max(transform(col("emb_d"), x => abs(x))) / lit(127.0))
      .filter(col("sc") > 0)
    s.select(col("label"), explode(col("emb_d")).as("x"), col("sc"))
      .select(col("label"),
        (col("x") / col("sc") - floor(col("x") / col("sc") + lit(0.5))).as("rel"))
      .groupBy(col("label"))
      .agg(count(lit(1)).as("n_elems"),
        trunc4(avg(col("rel") * col("rel"))).as("mse_rel4"),
        trunc4(max(abs(col("rel")))).as("max_rel4"))
      .orderBy(col("label"))
  }

  /** Full pairwise-cosine distribution profile (mean / median / min /
    * max over ALL n·(n−1)/2 pairs) — the similarity-structure health
    * check run before choosing near-dup thresholds: a healthy
    * embedding space has mean pair-cosine near 0; a collapsed encoder
    * pushes it toward 1. Exact, not sampled — this is the n² "compute
    * rectangle" shape where a parallel engine earns its keep, and the
    * per-pair kernel is the codegen'd graft_dot.
    *
    * Determinism: each pair's cosine is computed from the identical
    * sequential-order dot/norm doubles in both engines and trunc4'd
    * PER PAIR before any aggregation; mean/median aggregate the
    * snapped grid values (summation-order noise absorbed by the final
    * trunc4; min/max/median are exact selections).
    *
    * Scale note: n² pairs is exact-sweep territory — fine to ~1e5
    * vectors, beyond which [[topCosinePairs]]' blocked formulation or
    * LSH prefilters are the path; this op is the CALIBRATION read on
    * a sample, not the production near-dup join.
    */
  def cosinePairStats(embeddings: DataFrame): DataFrame = {
    import graft.ext.Num.trunc4
    graft.ext.expr.ArrayDotProduct.ensureRegistered(embeddings.sparkSession)
    // spread BEFORE the norm/checkpoint: the triangular pair sweep is
    // map-side against the broadcast copy, so its parallelism is the
    // checkpoint's partitioning = the scan's — ONE task on a
    // single-file snapshot (measured sf0.1: the whole ~2M-dot-product
    // sweep serialized at local[32]); no-op once the scan is wide
    val withNorm = graft.Tables.spread(embeddings
        .select(col("vec_id"), col("embedding").cast("array<double>").as("v")))
      .withColumn("nrm", sqrt(call_function("graft_dot", col("v"), col("v"))))
      .filter(col("nrm") > 0)
      .localCheckpoint(false) // both sides of the pair join
    withNorm.as("a")
      .join(withNorm.as("b"), col("a.vec_id") < col("b.vec_id"))
      .select(trunc4(call_function("graft_dot", col("a.v"), col("b.v")) /
        (col("a.nrm") * col("b.nrm"))).as("c4"))
      .agg(count(lit(1)).as("n_pairs"),
        trunc4(avg(col("c4"))).as("mean_cos4"),
        min(col("c4")).as("min_cos4"),
        max(col("c4")).as("max_cos4"),
        // percentile's boxed buffer stays: a two-pass variant (persist
        // the c4 grid, moment agg + primitive-array median via
        // exactPercentilesSmall) measured SLOWER interleaved at sf0.1
        // (~0.9s -> ~1.3s medians) — at ~2M pairs the ONE extra cache
        // write + second pass over it costs more than the boxed
        // percentile merge it replaced; the single fused aggregate over
        // the sweep is the right shape at calibration volumes
        trunc4(expr("percentile(c4, 0.5)")).as("med_cos4"))
  }

  /** Train/test embedding drift per label: cosine between the split
    * centroids, split assignment by the engine-neutral
    * [[graft.ext.Curation.splitAssign]] hash rule — the "did my split
    * accidentally shear a class" check run before training a probe on
    * frozen embeddings. cos ≈ 1 per label = splits are exchangeable;
    * a low-cos label has its members unevenly distributed.
    *
    * Scale shape: one posexplode feeds a (label, split, dim) partial-
    * first centroid aggregate (output is labels×2×dims rows — tiny);
    * the cosine is a dims-row join per label. Centroids trunc4'd
    * before the cosine so both engines consume identical inputs.
    */
  def splitDrift(embeddings: DataFrame): DataFrame = {
    import graft.ext.Num.trunc4
    val sp = graft.ext.Curation.splitAssign(embeddings, "vec_id")
      .filter(col("split").isin("train", "test"))
      .select(col("label"), col("split"), col("embedding"))
      .localCheckpoint(false) // centroid pass + membership counts
    val x = sp.select(col("label"), col("split"),
      posexplode(col("embedding").cast("array<double>")).as(Seq("dim", "v")))
    val cent = x.groupBy(col("label"), col("split"), col("dim"))
      .agg(avg(col("v")).as("mu"))
      .select(col("label"), col("split"), col("dim"), trunc4(col("mu")).as("mu4"))
    val tr = cent.filter(col("split") === "train")
      .select(col("label"), col("dim"), col("mu4").as("a"))
    val te = cent.filter(col("split") === "test")
      .select(col("label"), col("dim"), col("mu4").as("b"))
    val cos = tr.join(te, Seq("label", "dim"))
      .groupBy(col("label"))
      .agg(sum(col("a") * col("b")).as("ab"),
        sum(col("a") * col("a")).as("aa"), sum(col("b") * col("b")).as("bb"))
    val cnt = sp.groupBy(col("label"))
      .agg(sum(when(col("split") === "train", 1L).otherwise(0L)).cast("long").as("n_train"),
        sum(when(col("split") === "test", 1L).otherwise(0L)).cast("long").as("n_test"))
    cnt.join(cos, "label")
      .select(col("label"), col("n_train"), col("n_test"),
        trunc4(col("ab") / (sqrt(col("aa")) * sqrt(col("bb")))).as("cos4"))
      .orderBy(col("label"))
  }

  /** Mutual-kNN graph degree histogram: for each vector its top-k
    * cosine neighbors, kept only where the edge is RECIPROCAL, then
    * the distribution of mutual degrees (0..k) — the standard
    * manifold-health read (hubness/isolation) run before trusting
    * kNN-based label propagation or dedup clustering: a healthy
    * manifold concentrates mass at mid degrees; heavy degree-0 means
    * noise points, heavy degree-k with high hub counts means a
    * collapsed space.
    *
    * Determinism: per-pair cosines are trunc4-snapped BEFORE ranking
    * and ties break on neighbor id, so both engines pick identical
    * neighbor sets. Scale note: the exact n² sweep is the calibration
    * form; at corpus scale the pair stream comes from [[ivfTopK]]/LSH
    * candidates instead — the mutual-join + histogram tail of the
    * plan is unchanged.
    *
    * Execution: the pair sweep runs through [[knnCandidatesBlocked]] —
    * per-source heaps inside each block-pair group — so the shuffle
    * after scoring carries n*B*k candidate rows, never the n² scored
    * pair stream (the window-rank formulation this replaced sorted all
    * n² rows; 3.3s -> ~0.7s at sf0.1).
    */
  def mutualKnnDegrees(embeddings: DataFrame, k: Int = 5): DataFrame = {
    graft.ext.expr.ArrayDotProduct.ensureRegistered(embeddings.sparkSession)
    val v = embeddings
      .select(col("vec_id"), col("embedding").cast("array<double>").as("v"))
      .withColumn("nrm", sqrt(call_function("graft_dot", col("v"), col("v"))))
      .filter(col("nrm") > 0)
      .localCheckpoint(false) // pair sweep both sides + degree-0 base
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("src")).orderBy(col("c4").desc, col("dst"))
    val knn = knnCandidatesBlocked(v.select(col("vec_id"), col("v")), k)
      .withColumn("rk", row_number().over(w))
      .filter(col("rk") <= k)
      .select(col("src"), col("dst"))
      .localCheckpoint(false) // self-joined for reciprocity
    val mutual = knn.join(
      knn.select(col("dst").as("src"), col("src").as("dst")), Seq("src", "dst"))
    val deg = mutual.groupBy(col("src").as("vec_id")).agg(count(lit(1)).as("deg"))
    v.select(col("vec_id")).join(deg, Seq("vec_id"), "left")
      .select(coalesce(col("deg"), lit(0L)).as("deg"))
      .groupBy(col("deg")).agg(count(lit(1)).as("n_vecs"))
      .orderBy(col("deg"))
  }

  /** Exact per-source kNN candidates via the blocked self-join of
    * [[topCosinePairs]], with per-SOURCE bounded heaps instead of one
    * global heap: every (i,j) block pair meets in exactly one group;
    * inside it each vector of either block keeps its k best cosine
    * neighbors from the other (both orientations — kNN is directed).
    * Emits (src, dst, c4) with at most k rows per source PER GROUP, so
    * the post-scoring shuffle is n*B*k rows; the caller merges the B
    * per-block winners with one window over that small frame. Cosines
    * are trunc4-snapped before heap comparison and ties break on dst
    * (identical to the final ranking, so per-group pruning is globally
    * sufficient). Zero-norm vectors never score (cos undefined).
    *
    * Input contract: (vec_id long, v array<double>) — pre-cast, pre-
    * filtered by the caller.
    */
  private[ext] def knnCandidatesBlocked(
      vectors: DataFrame, k: Int, numBlocks: Int = 8): DataFrame = {
    val spark = vectors.sparkSession
    import spark.implicits._
    val B = numBlocks
    val ds = vectors.as[(Long, Array[Double])]
    val replicated = ds.flatMap { case (id, v) =>
      val g = java.lang.Math.floorMod(id, B.toLong).toInt
      (0 until B).iterator.map { h =>
        (math.min(g, h) * B + math.max(g, h), g, id, v)
      }
    }
    // worst candidate on top: smaller cos first, then larger dst
    val worstFirst: Ordering[(Long, Double)] =
      Ordering.by { case (d, t) => (-t, d) }
    // The block-pair sweep is COMPUTE-dense (per-group brute-force dot
    // products) at tiny byte volume, so a groupByKey exchange gets
    // merged onto one task by AQE's bytes-targeted coalescing,
    // serializing all B(B+1)/2 sweeps (measured e_knn_graph 1.2s
    // coalesced vs 0.76s wide at sf0.1). A USER repartition on the
    // group key is exempt from coalescing and clusters identically;
    // the per-key grouping then happens inside mapPartitions (hash
    // buffering — also drops MapGroups' per-partition sort). The
    // exchange is UNCONDITIONAL (Shuffles.clusterByKey): the kernel's
    // correctness needs every row of a key co-partitioned — a split
    // key means a block pair never meets and its candidates are
    // silently missing. pinWide's gates pick only the width.
    //
    // Per-partition memory bound (round-7 advisory asked for it
    // explicitly): the byKey map buffers every group co-resident on
    // the partition — at most ceil(B(B+1)/2 / W) of the B(B+1)/2
    // groups (keys are dense ints, hash-spread over W >= cores
    // partitions), each holding ~2n/B replicated vectors, so peak heap
    // is that small multiple of the single-group working set the sweep
    // itself must hold (left/right block arrays). The real memory
    // contract is therefore the same one the BLOCK DESIGN already
    // imposes — a group (2n/B vectors) must fit an executor — and the
    // caller scales numBlocks with n, not this buffering. Streaming
    // one group at a time would need sortWithinPartitions(key), i.e.
    // re-paying the per-partition sort of the full vector payload that
    // this rewrite measurably removed, to shave a <= 2-3x constant.
    val grouped = graft.ops.Shuffles.clusterByKey(
        replicated.toDF("key", "g", "id", "v"), col("key"))
      .as[(Int, Int, Long, Array[Double])]
      .mapPartitions { rows =>
      val byKey = scala.collection.mutable.LongMap
        .empty[scala.collection.mutable.ArrayBuffer[(Int, Long, Array[Double])]]
      rows.foreach { case (key, g, id, v) =>
        byKey.getOrElseUpdate(key.toLong,
          scala.collection.mutable.ArrayBuffer.empty) += ((g, id, v))
      }
      byKey.iterator.flatMap { case (keyL, rs) =>
        val key = keyL.toInt
        val it = rs.iterator.map { case (g, id, v) => (key, g, id, v) }
      val blkI = key / B
      val blkJ = key % B
      val left = scala.collection.mutable.ArrayBuffer.empty[(Long, Array[Double])]
      val right = scala.collection.mutable.ArrayBuffer.empty[(Long, Array[Double])]
      it.foreach { case (_, g, id, v) =>
        if (g == blkI) left += ((id, v))
        if (g == blkJ && blkJ != blkI) right += ((id, v))
      }
      def norm(v: Array[Double]): Double = {
        var s = 0.0; var i = 0
        while (i < v.length) { s += v(i) * v(i); i += 1 }
        math.sqrt(s)
      }
      val heaps = scala.collection.mutable.LongMap
        .empty[scala.collection.mutable.PriorityQueue[(Long, Double)]]
      def offer(src: Long, dst: Long, t: Double): Unit = {
        val pq = heaps.getOrElseUpdate(src,
          scala.collection.mutable.PriorityQueue.empty[(Long, Double)](worstFirst))
        val cand = (dst, t)
        if (pq.size < k) pq.enqueue(cand)
        else if (worstFirst.lt(cand, pq.head)) { pq.dequeue(); pq.enqueue(cand) }
      }
      def score(ida: Long, va: Array[Double], na: Double,
          idb: Long, vb: Array[Double], nb: Double): Unit = {
        if (na > 0 && nb > 0) {
          var dot = 0.0; var d = 0
          while (d < va.length) { dot += va(d) * vb(d); d += 1 }
          val t = math.floor(dot / (na * nb) * 10000.0) / 10000.0 // = Num.trunc4
          offer(ida, idb, t)
          offer(idb, ida, t)
        }
      }
      if (blkI == blkJ) {
        val arr = left.toArray
        val norms = arr.map(p => norm(p._2))
        var i = 0
        while (i < arr.length) {
          var j = i + 1
          while (j < arr.length) {
            if (arr(i)._1 != arr(j)._1)
              score(arr(i)._1, arr(i)._2, norms(i), arr(j)._1, arr(j)._2, norms(j))
            j += 1
          }
          i += 1
        }
      } else {
        val la = left.toArray; val ra = right.toArray
        val ln = la.map(p => norm(p._2)); val rn = ra.map(p => norm(p._2))
        var i = 0
        while (i < la.length) {
          var j = 0
          while (j < ra.length) {
            score(la(i)._1, la(i)._2, ln(i), ra(j)._1, ra(j)._2, rn(j))
            j += 1
          }
          i += 1
        }
      }
      heaps.iterator.flatMap { case (src, pq) =>
        pq.iterator.map { case (dst, t) => (src, dst, t) }
      }
      }
    }
    grouped.toDF("src", "dst", "c4")
  }

  /** kNN label purity — the label-noise / class-coherence read run
    * before trusting labels for training: for each vector, the fraction
    * of its k nearest cosine neighbors sharing its label, reported per
    * label. Low purity for one label = mislabeled or heterogeneous
    * class; low everywhere = embeddings don't separate the taxonomy.
    * Same exact blocked sweep as [[mutualKnnDegrees]] (per-source heaps,
    * n*B*k shuffle, trunc4-snapped ties) plus two hash joins against the
    * (vec_id, label) side table; the purity ratio is exact integer
    * match-counts divided once at the end.
    */
  def knnLabelPurity(embeddings: DataFrame, k: Int = 5): DataFrame = {
    import graft.ext.Num.trunc4
    graft.ext.expr.ArrayDotProduct.ensureRegistered(embeddings.sparkSession)
    val v = embeddings
      .select(col("vec_id").cast("long").as("vec_id"),
        col("embedding").cast("array<double>").as("v"),
        col("label").cast("long").as("label"))
      .withColumn("nrm", sqrt(call_function("graft_dot", col("v"), col("v"))))
      .filter(col("nrm") > 0)
      .localCheckpoint(false) // sweep input + two label joins
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("src")).orderBy(col("c4").desc, col("dst"))
    val knn = knnCandidatesBlocked(v.select(col("vec_id"), col("v")), k)
      .withColumn("rk", row_number().over(w))
      .filter(col("rk") <= k)
      .select(col("src"), col("dst"))
    knn
      .join(v.select(col("vec_id").as("src"), col("label").as("src_label")), "src")
      .join(v.select(col("vec_id").as("dst"), col("label").as("dst_label")), "dst")
      .groupBy(col("src_label").as("label"))
      .agg(countDistinct(col("src")).as("n_vecs"),
        count(lit(1)).cast("long").as("n_edges"),
        sum(when(col("src_label") === col("dst_label"), 1L).otherwise(0L))
          .cast("long").as("n_same"))
      .select(col("label"), col("n_vecs"),
        trunc4(col("n_same").cast("double") / col("n_edges").cast("double"))
          .as("purity4"))
      .orderBy(col("label"))
  }

  /** Per-dimension embedding-column health check (whitening prep /
    * drift detection): mean, population stddev, min, max for every
    * dimension. posexplode then ONE partial-first hash aggregate keyed
    * by dimension index — the shuffle carries dim-count partial rows
    * per map task, never vectors, so the pass is a single scan at any
    * corpus size. mean/std are trunc4'd (summation-order noise policy,
    * same as corr/entropy); min/max of float-cast-to-double values are
    * exact in both engines.
    */
  def dimStats(embeddings: DataFrame): DataFrame = {
    import graft.ext.Num.trunc4
    embeddings
      .select(posexplode(col("embedding").cast("array<double>")).as(Seq("dim", "x")))
      .groupBy(col("dim"))
      .agg(count(lit(1)).as("n"),
        trunc4(avg(col("x"))).as("mean"),
        trunc4(stddev_pop(col("x"))).as("std"),
        min(col("x")).as("lo"),
        max(col("x")).as("hi"))
      .orderBy(col("dim"))
  }

  /** Upper-triangle covariance matrix of the embedding column — the
    * PCA/whitening precursor to [[dimStats]]. cov(i,j) =
    * E[x_i x_j] - E[x_i] E[x_j]: posexplode to (row, dim, value), self
    * equi-join on the row id to form the upper-triangle products, and
    * a partial-first aggregate on (i,j) that reduces them map-side, so
    * the shuffle after the join carries ~dim^2/2 partial rows per task
    * regardless of corpus size. The per-dim means arrive from a
    * second, dim-sized aggregate joined in at the end (tiny,
    * data-independent size — broadcast). trunc4 on the final value
    * only (summation-order noise policy).
    */
  def covarianceMatrix(embeddings: DataFrame): DataFrame = {
    import graft.ext.Num.trunc4
    graft.ext.expr.VecCovAgg.ensureRegistered(embeddings.sparkSession)
    val v = col("embedding").cast("array<double>")
    // One-pass imperative moment aggregate (graft_cov): each partition
    // folds its rows into a d + d(d+1)/2 double buffer map-side, the
    // shuffle carries one buffer per partition, and the d² cells unpack
    // with a single explode. The previous posexplode-self-join plan
    // materialized |rows|·d²/2 join rows before aggregating — measured
    // 2x slower at sf0.1 and row-proportional on the wire at scale;
    // this shape's shuffle is O(partitions · d²), corpus-independent.
    embeddings
      .agg(call_function("graft_cov", v).as("c"))
      .select(explode(col("c")).as("e"))
      .select(col("e.i").as("i"), col("e.j").as("j"), col("e.n").as("n"),
        trunc4(col("e.cov")).as("cov4"))
      .orderBy(col("i"), col("j"))
  }

  /** Embedding L2-norm histogram (0.1-wide buckets) — the one-pass
    * health check that catches unnormalized batches, zero vectors, and
    * scale drift before they poison cosine pipelines. The norm is
    * sqrt(graft_dot(v, v)) — the native codegen'd loop, fused into the
    * scan stage — and the histogram is a single partial-first
    * aggregate on the bucket id.
    */
  def normHistogram(embeddings: DataFrame): DataFrame = {
    graft.ext.expr.ArrayDotProduct.ensureRegistered(embeddings.sparkSession)
    val norm = sqrt(call_function("graft_dot",
      col("embedding").cast("array<double>"), col("embedding").cast("array<double>")))
    embeddings
      .select(floor(norm * 10.0).cast("long").as("bucket"))
      .groupBy(col("bucket")).agg(count(lit(1)).as("n"))
      .orderBy(col("bucket"))
  }

  /** Driver-local trunc4 twin of [[graft.ext.Num.trunc4]]: identical
    * IEEE ops, so driver math lands on the same grid as plan math. */
  private def trunc4d(x: Double): Double = math.floor(x * 10000.0) / 10000.0

  /** Collect the (schema-bounded, O(dim^2) = ~2080-row / 32 KB) upper
    * triangle into a full symmetric driver-local matrix. This is the
    * MLlib RowMatrix architecture: ONE distributed pass builds the
    * Gramian/covariance; the eigen-iteration on the tiny matrix is
    * driver scalar math, not 15 dim^2-row shuffle jobs (measured 2.5s
    * of pure job overhead at any SF — the matrix size is set by the
    * SCHEMA, so the collect is as bounded at 100 TB as at sf0.001).
    */
  private def collectCovariance(embeddings: DataFrame): Array[Array[Double]] = {
    val rows = covarianceMatrix(embeddings)
      .select(col("i"), col("j"), col("cov4")).collect()
    val dim = rows.iterator.map(_.getInt(1)).max + 1
    val m = Array.ofDim[Double](dim, dim)
    rows.foreach { r =>
      val (i, j, c) = (r.getInt(0), r.getInt(1), r.getDouble(2))
      m(i)(j) = c; m(j)(i) = c
    }
    m
  }

  /** K rounds of v <- normalize(C v) from an all-ones seed; returns
    * (v, |Cv| eigenvalue estimate). Ascending-index summation — the
    * 64-term sum-order noise is absorbed by the caller's trunc4, the
    * same policy the relational formulation relied on. */
  private def powerIterateLocal(m: Array[Array[Double]], iters: Int): (Array[Double], Double) = {
    val dim = m.length
    var v = Array.fill(dim)(1.0)
    var nrm = 0.0
    (1 to iters).foreach { _ =>
      val w = Array.tabulate(dim) { i =>
        var s = 0.0; var j = 0
        while (j < dim) { s += m(i)(j) * v(j); j += 1 }
        s
      }
      nrm = math.sqrt(w.map(x => x * x).sum)
      v = w.map(_ / nrm)
    }
    (v, nrm)
  }

  /** Top principal component by POWER ITERATION on the covariance
    * matrix — the first step of PCA/whitening. The corpus is touched
    * exactly once (by [[covarianceMatrix]], a distributed partial-first
    * aggregate); the iteration then runs on the collected dim x dim
    * matrix on the driver — O(dim^2) data, bounded by the SCHEMA, the
    * same at 100 TB as at sf0.001 (MLlib RowMatrix does exactly this
    * for its Gramian eigen-solve). Seed vector is all-ones; K fixed
    * rounds of v <- normalize(C v) (fixed count, not convergence
    * polling — same unrolled-CTE oracle policy as [[Graph.pageRank]]).
    * The trunc4'd covariance entries are the iteration INPUT, so both
    * engines iterate on bit-identical matrices and the only
    * cross-engine noise is the 64-term matvec sum, absorbed by the
    * output trunc4. The final matvec norm is the dominant-eigenvalue
    * estimate.
    */
  def pcaTopComponent(embeddings: DataFrame, iters: Int = 3): DataFrame = {
    require(iters >= 1, s"iters=$iters out of range")
    val spark = embeddings.sparkSession
    import spark.implicits._
    val m = collectCovariance(embeddings)
    val (v, nrm) = powerIterateLocal(m, iters)
    val e4 = trunc4d(nrm)
    v.zipWithIndex.map { case (x, d) => (d, trunc4d(x), e4) }
      .toSeq.toDF("dim", "loading4", "eigval4")
      .orderBy(col("dim"))
  }

  /** Top TWO principal components by power iteration + HOTELLING
    * DEFLATION: find v1 on the covariance matrix as in
    * [[pcaTopComponent]], subtract its rank-1 contribution
    * (C' = C - λ1·v1·v1ᵀ), and power-iterate again on C' — the
    * textbook sequential-PCA step, as a relational plan. The corpus is
    * still touched exactly once (the covariance pass); both iteration
    * phases and the deflation are dim²-row joins, independent of
    * corpus size.
    *
    * Cross-engine determinism: v1 and λ1 are trunc4'd BEFORE the
    * deflation, so the deflated matrix is computed from bit-identical
    * finite inputs on both engines (pure IEEE arithmetic, no
    * accumulated iteration noise crossing the subtraction), and the
    * only per-engine noise anywhere is each matvec's 64-term
    * summation order, absorbed by the output trunc4 — the same policy
    * [[pcaTopComponent]] and its unrolled-CTE oracle already prove out.
    */
  def pcaTopTwo(embeddings: DataFrame, iters: Int = 3): DataFrame = {
    require(iters >= 1, s"iters=$iters out of range")
    val spark = embeddings.sparkSession
    import spark.implicits._
    val m = collectCovariance(embeddings)
    val dim = m.length
    val (v1raw, n1) = powerIterateLocal(m, iters)
    // truncate BEFORE deflating: both engines subtract the identical rank-1 term
    val v1 = v1raw.map(trunc4d)
    val e1 = trunc4d(n1)
    val deflated = Array.tabulate(dim, dim)((i, j) => m(i)(j) - e1 * v1(i) * v1(j))
    val (v2raw, n2) = powerIterateLocal(deflated, iters)
    val e2 = trunc4d(n2)
    (0 until dim).map(d => (d, v1(d), trunc4d(v2raw(d)), e1, e2))
      .toDF("dim", "loading1_4", "loading2_4", "eig1_4", "eig2_4")
      .orderBy(col("dim"))
  }

  /** Label-cluster quality report: per label, the mean member-to-own-
    * centroid distance (cohesion), the distance to the nearest OTHER
    * label's centroid (separation), and their ratio — the cheap
    * Davies-Bouldin-style diagnostic run before trusting labels for
    * classifier training or stratified sampling. ratio4 ≫ 1 means the
    * label's members scatter wider than the gap to the next cluster.
    *
    * Scale shape: one posexplode feeds the centroid aggregate
    * (labels×dims rows — tiny) and the member-distance join; the
    * centroid-pair sweep is (labels×dims)² — independent of corpus
    * size. Centroids are trunc4'd BEFORE any distance math so the
    * heavy phase consumes bit-identical inputs in both engines; the
    * only cross-engine noise is dim-sum/member-avg ordering, absorbed
    * by the output trunc4.
    */
  def clusterQuality(embeddings: DataFrame): DataFrame = {
    import graft.ext.Num.trunc4
    val x = embeddings.select(col("label"), col("vec_id"),
      posexplode(col("embedding").cast("array<double>")).as(Seq("dim", "v")))
    val cent = x.groupBy(col("label"), col("dim"))
      .agg(avg(col("v")).as("mu"))
      .select(col("label"), col("dim"), trunc4(col("mu")).as("mu4"))
      .localCheckpoint(false) // reused by member distances + pair sweep
    val intra = x.join(cent, Seq("label", "dim"))
      .groupBy(col("label"), col("vec_id"))
      .agg(sum((col("v") - col("mu4")) * (col("v") - col("mu4"))).as("d2"))
      .groupBy(col("label"))
      .agg(count(lit(1)).as("n_members"), avg(sqrt(col("d2"))).as("intra"))
    val sep = cent.as("a")
      .join(cent.select(col("label").as("label_b"), col("dim"),
        col("mu4").as("mu4b")).as("b"), Seq("dim"))
      .filter(col("label") =!= col("label_b"))
      .groupBy(col("label"), col("label_b"))
      .agg(sum((col("mu4") - col("mu4b")) * (col("mu4") - col("mu4b"))).as("d2"))
      .groupBy(col("label"))
      .agg(min(sqrt(col("d2"))).as("sep"))
    intra.join(sep, "label")
      .select(col("label"), col("n_members"), trunc4(col("intra")).as("intra4"),
        trunc4(col("sep")).as("sep4"),
        trunc4(col("intra") / col("sep")).as("ratio4"))
      .orderBy(col("label"))
  }

  /** MATERIALIZED IVF index: train the coarse quantizer once, assign
    * every vector to its centroid map-side, persist the corpus
    * PARTITIONED BY cluster id. This is the at-scale shape the ad-hoc
    * [[ivfTopK]] scaladoc promises: the one-time layout cost turns
    * every probe into a partition-PRUNED read (~nProbe/numCentroids of
    * the files never open), instead of a full scan + filter. Returns
    * the centroids for the query side (numCentroids x dim — the only
    * driver-resident artifact, same size class as a broadcast dim).
    */
  def ivfBuildIndex(
      embeddings: DataFrame,
      path: String,
      numCentroids: Int = 16,
      iters: Int = 2): Array[Array[Double]] = {
    val spark = embeddings.sparkSession
    import spark.implicits._
    val centroids = trainCentroids(embeddings, numCentroids, iters)
    val bc = spark.sparkContext.broadcast(centroids)
    embeddings
      .select(col("vec_id").cast("long"), col("embedding").cast("array<double>"))
      .as[(Long, Array[Double])]
      .map { case (id, v) => (id, v, nearest(bc.value, quant6(v))) }
      .toDF("vec_id", "embedding", "cluster")
      .write.mode(org.apache.spark.sql.SaveMode.Overwrite)
      .partitionBy("cluster").parquet(path)
    // Persist the quantizer WITH the index: an `_`-prefixed sibling is
    // invisible to spark.read.parquet(path) (hidden-path convention), so
    // the data read is untouched, and a FRESH session can probe the
    // index via ivfLoadIndex without retraining.
    centroids.zipWithIndex
      .map { case (c, i) => (i, c) }.toSeq
      .toDF("cluster", "centroid")
      .coalesce(1)
      .write.mode(org.apache.spark.sql.SaveMode.Overwrite)
      .parquet(centroidsPath(path))
    centroids
  }

  /** Incremental index maintenance: assign NEW vectors to the EXISTING
    * quantizer and append them into the cluster partitions — the
    * ingest-time path for a living index (retraining the quantizer on
    * every batch would invalidate all previous assignments; standard
    * IVF practice is to keep centroids fixed and re-train offline when
    * drift warrants a rebuild). Append mode only touches the partitions
    * that receive rows; existing files are never rewritten, so the op
    * is O(|batch|) regardless of index size.
    */
  def ivfAppend(newVectors: DataFrame, path: String): Unit = {
    val spark = newVectors.sparkSession
    import spark.implicits._
    val centroids = ivfLoadIndex(spark, path)
    val bc = spark.sparkContext.broadcast(centroids)
    newVectors
      .select(col("vec_id").cast("long"), col("embedding").cast("array<double>"))
      .as[(Long, Array[Double])]
      .map { case (id, v) => (id, v, nearest(bc.value, quant6(v))) }
      .toDF("vec_id", "embedding", "cluster")
      .write.mode(org.apache.spark.sql.SaveMode.Append)
      .partitionBy("cluster").parquet(path)
  }

  private def centroidsPath(indexPath: String): String =
    indexPath.stripSuffix("/") + "/_centroids"

  /** Load the coarse quantizer persisted by [[ivfBuildIndex]] — the
    * missing half of probe-from-a-fresh-session (centroids are
    * numCentroids x dim, a driver-sized artifact by construction).
    */
  def ivfLoadIndex(
      spark: org.apache.spark.sql.SparkSession, path: String): Array[Array[Double]] = {
    import spark.implicits._
    spark.read.parquet(centroidsPath(path))
      .select(col("cluster").cast("int"), col("centroid").cast("array<double>"))
      .as[(Int, Array[Double])]
      .collect().sortBy(_._1).map(_._2)
  }

  /** Probe a materialized IVF index: rank centroids against the query,
    * read ONLY the `nProbe` nearest clusters' partitions (pruned before
    * the scan — visible as PartitionFilters in the plan), score those
    * candidates exactly, top-k.
    */
  def ivfTopKIndexed(
      spark: org.apache.spark.sql.SparkSession,
      path: String,
      centroids: Array[Array[Double]],
      queryVec: Array[Double],
      k: Int,
      nProbe: Int = 4,
      excludeVecId: Option[Long] = None): DataFrame = {
    import spark.implicits._
    val qQ = quant6(queryVec)
    val probes = centroids.indices
      .sortBy(c => (dist6(centroids(c), qQ), c))
      .take(nProbe)
    val idx = spark.read.parquet(path)
      .filter(col("cluster").isInCollection(probes))
    // q6 scoring (same exact integer dot as ivfTopK / the oracle); the
    // cluster filter stays a PARTITION filter under the typed map
    excludeVecId.fold(idx)(id => idx.filter(col("vec_id") =!= id))
      .select(col("vec_id").cast("long"), col("embedding").cast("array<double>"))
      .as[(Long, Array[Double])]
      .mapPartitions(_.map { case (id, v) => (id, score6(quant6(v), qQ)) })
      .toDF("vec_id", "cos_sim")
      .orderBy(col("cos_sim").desc, col("vec_id"))
      .limit(k)
  }

  /** Sign-LSH-blocked near-dup pair sweep — the 100 TB path for
    * [[topCosinePairs]]: bucket every vector into `numTables`
    * independent sign-LSH buckets, self-join WITHIN buckets only (the
    * shuffle key is the bucket, so no cross join ever materializes),
    * deduplicate candidate ID pairs, then score each surviving pair
    * exactly ONCE, global top-k. Approximate: recall is the standard
    * sign-LSH bound (high for near-duplicate-grade cosines).
    *
    * Candidate generation is ids-only: the bucket self-join and the
    * `.distinct()` shuffle 2 longs per candidate — a pair that collides
    * in several tables is scored once, not once per table (the earlier
    * shape cosine-scored per table and distinct'd SCORED rows: duplicate
    * O(dim) work and a vector-wide shuffle). Vectors are fetched for
    * surviving pairs only, via two id-joins against the corpus.
    */
  def lshCosinePairs(
      embeddings: DataFrame,
      k: Int,
      numPlanes: Int = 8,
      numTables: Int = 4,
      dim: Int = 64,
      seed: Long = 42L): DataFrame = {
    graft.ext.expr.ArrayDotProduct.ensureRegistered(embeddings.sparkSession)
    val tables = (0 until numTables).map(t => hyperplanes(numPlanes, dim, seed + t))
    val bucketed = embeddings.select(
      col("vec_id"),
      explode(array(tables.zipWithIndex.map { case (planes, t) =>
        struct(lit(t).as("tbl"), lshBucket(col("embedding"), planes).as("bkt"))
      }: _*)).as("tb"))
      .select(col("vec_id"), col("tb.tbl").as("tbl"), col("tb.bkt").as("bkt"))
    val a = bucketed.select(col("tbl"), col("bkt"), col("vec_id").as("vec_a"))
    val b = bucketed.select(col("tbl"), col("bkt"), col("vec_id").as("vec_b"))
    val cand = a.join(b, Seq("tbl", "bkt")).filter(col("vec_a") < col("vec_b"))
      .select(col("vec_a"), col("vec_b")).distinct()
    val vecs = embeddings.select(col("vec_id"), col("embedding"))
    cand
      .join(vecs.select(col("vec_id").as("vec_a"), col("embedding").as("emb_a")), Seq("vec_a"))
      .join(vecs.select(col("vec_id").as("vec_b"), col("embedding").as("emb_b")), Seq("vec_b"))
      .select(col("vec_a"), col("vec_b"),
        Num.trunc4(cosine(col("emb_a"), col("emb_b"))).as("cos_sim"))
      .orderBy(col("cos_sim").desc, col("vec_a"), col("vec_b"))
      .limit(k)
  }

  /** Per-group embedding centroids (mean vector per label): the
    * cluster-profile / class-prototype computation behind semantic
    * drift monitoring and nearest-class-mean classification. Expressed
    * as posexplode -> partial-first aggregate on (label, dim): the
    * map-side combine collapses each partition to |labels| x dim
    * partial sums BEFORE the shuffle — the declarative twin of the
    * Lloyd round's aggregateByKey in [[trainCentroids]], so the wire
    * cost is partials, never n x dim element rows. Output is one row
    * per (label, 1-based dim_idx) — fixed-width rows keep the result
    * oracle-comparable without array-literal formatting concerns.
    */
  def groupCentroids(
      embeddings: DataFrame,
      labels: DataFrame,
      labelCol: String): DataFrame = {
    val joined = embeddings.select(col("vec_id").cast("long").as("vec_id"), col("embedding"))
      .join(labels, "vec_id")
    joined
      .select(col(labelCol), posexplode(col("embedding")))
      .groupBy(col(labelCol), (col("pos") + 1).cast("bigint").as("dim_idx"))
      .agg(count(lit(1)).as("n_vecs"),
        Num.trunc4(avg(col("col").cast("double"))).as("mean_val"))
      .orderBy(col(labelCol), col("dim_idx"))
  }

  /** Seeded Gaussian random projection to `outDim` dimensions — the
    * Johnson-Lindenstrauss dimensionality reduction that makes
    * downstream pairwise work O(outDim) instead of O(dim) while
    * approximately preserving distances. The SAME seeded planes as the
    * sign-LSH family, kept as real-valued dots instead of sign bits;
    * purely map-side (the plane literals compile into the projection),
    * fuses into the scan. Deterministic cross-engine the same way
    * e_ann_lsh is: planes embed as round-trip double literals in the
    * generated oracle SQL, dots agree within trunc4.
    */
  def randomProjection(
      embeddings: DataFrame,
      outDim: Int = 4,
      dim: Int = 64,
      seed: Long = 7L): DataFrame = {
    val planes = hyperplanes(outDim, dim, seed)
    val v = col("embedding").cast("array<double>")
    val projCols = planes.zipWithIndex.map { case (p, j) =>
      Num.trunc4(dot(v, planeLit(p))).as(s"p$j")
    }
    embeddings.select(col("vec_id").cast("long").as("vec_id") +: projCols.toSeq: _*)
      .orderBy(col("vec_id"))
  }

  /** DuckDB oracle for [[randomProjection]] — same literal-embedding
    * idea as [[annTopKOracleSql]].
    */
  def randomProjectionOracleSql(
      outDim: Int = 4,
      dim: Int = 64,
      seed: Long = 7L): String = {
    val planes = hyperplanes(outDim, dim, seed)
    val cols = planes.zipWithIndex.map { case (p, j) =>
      s"floor(list_dot_product(v, ${p.mkString("[", ", ", "]")}) * 10000) / 10000.0 AS p$j"
    }.mkString(",\n  ")
    s"""WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings)
SELECT vec_id,
  $cols
FROM e ORDER BY vec_id"""
  }

  /** Nearest-class-mean classification + confusion matrix: assign every
    * vector to the closest [[groupCentroids]] prototype (squared L2)
    * and cross-tabulate true vs predicted label — the cheap semantic
    * classifier / drift detector over an embedded corpus. Centroids are
    * the trunc4'd prototype values (both engines agree on them exactly,
    * so the distance inputs are IDENTICAL, not merely close); the
    * distance is `graft_sqdist` = (dot(v,v) - 2 dot(v,c)) + dot(c,c),
    * three left-to-right dot folds and two scalar ops the oracle
    * reproduces operation-for-operation, and argmin ties break on the
    * label — the whole prediction is deterministic cross-engine, which
    * is what lets a float classifier carry a hash oracle at all.
    *
    * Scale shape: the |labels| prototype rows broadcast under a cross
    * join (each vector scores |labels| candidates map-side); argmin is
    * a per-vec_id window on the |n| x |labels| scored rows; the
    * confusion matrix is a partial-first aggregate. Scoring runs as
    * native codegen'd loops inside WholeStageCodegen (the interpreted
    * zip_with fold it replaces was ~25us/pair).
    */
  def classifyByCentroid(
      embeddings: DataFrame,
      labels: DataFrame,
      labelCol: String): DataFrame = {
    val cents = groupCentroids(embeddings, labels, labelCol)
      .groupBy(col(labelCol).as("pred_label"))
      .agg(transform(
        array_sort(collect_list(struct(col("dim_idx"), col("mean_val")))),
        s => s("mean_val")).as("cvec"))
    graft.ext.expr.ArrayDotProduct.ensureRegistered(embeddings.sparkSession)
    val j = embeddings.select(col("vec_id").cast("long").as("vec_id"), col("embedding"))
      .join(labels, "vec_id")
    // native codegen'd |v|^2 - 2vc + |c|^2 (three fused dot loops)
    // instead of the interpreted zip_with/aggregate fold — per-row cost
    // no longer scales with the HOF-interpreter overhead as |labels|
    // grows; the float side widens per element, identical to casting
    // the whole array first
    val dist = call_function("graft_sqdist", col("embedding"), col("cvec"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("vec_id")).orderBy(col("dist"), col("pred_label"))
    j.crossJoin(broadcast(cents))
      .select(col("vec_id"), col(labelCol), col("pred_label"), dist.as("dist"))
      .withColumn("rn", row_number().over(w)).filter(col("rn") === 1)
      .groupBy(col(labelCol), col("pred_label")).agg(count(lit(1)).as("n"))
      .orderBy(col(labelCol), col("pred_label"))
  }

  /** Matryoshka-truncation retrieval audit: how much of the full-dim
    * top-k survives when ranking on only the first `prefixDim`
    * dimensions (the "can we store/serve a truncated index?" question
    * behind MRL-style embeddings). Emits the UNION of both top-k sets
    * with per-method membership flags and snapped cosines — the
    * per-row form makes the overlap, the rank churn, and the score
    * deltas all readable from one result.
    *
    * Scale shape: two broadcast-query brute-force sweeps (each one
    * codegen'd graft_dot pass over the corpus + TakeOrderedAndProject)
    * and a k-row outer join; the truncation itself is a zero-copy
    * `slice` projected before the dot, so the prefix sweep reads
    * prefixDim/dim of the vector bytes.
    */
  def matryoshkaOverlap(
      embeddings: DataFrame,
      queryVecId: Long = 0L,
      k: Int = 10,
      prefixDim: Int = 32): DataFrame = {
    val full = bruteForceTopK(embeddings, queryVecId, k)
      .select(col("vec_id"), col("cos_sim").as("cos_full"))
    val prefix = embeddings.select(col("vec_id"),
      slice(col("embedding"), 1, prefixDim).as("embedding"))
    val half = bruteForceTopK(prefix, queryVecId, k)
      .select(col("vec_id"), col("cos_sim").as("cos_prefix"))
    full.join(half, Seq("vec_id"), "full_outer")
      .select(col("vec_id"),
        col("cos_full").isNotNull.cast("int").as("in_full"),
        col("cos_prefix").isNotNull.cast("int").as("in_prefix"),
        col("cos_full"), col("cos_prefix"))
      .orderBy(col("vec_id"))
  }

  /** Quantization-impact-on-retrieval audit: the float top-k vs the
    * top-k computed entirely on int8-DEQUANTIZED vectors (query
    * included — the realistic serving path where the whole index is
    * quantized). Union of both sets with membership flags; the flag
    * columns ARE the recall@k statement (sum(in_float*in_int8)/k).
    * Complements [[quantizeError]], which measures element residuals
    * but says nothing about ranking survival.
    */
  def int8RetrievalOverlap(
      embeddings: DataFrame,
      queryVecId: Long = 0L,
      k: Int = 10): DataFrame = {
    val deq = dequantize(quantizeInt8(embeddings))
    val fl = bruteForceTopK(embeddings, queryVecId, k)
      .select(col("vec_id"), col("cos_sim").as("cos_float"))
    val qi = bruteForceTopK(deq, queryVecId, k)
      .select(col("vec_id"), col("cos_sim").as("cos_int8"))
    fl.join(qi, Seq("vec_id"), "full_outer")
      .select(col("vec_id"),
        col("cos_float").isNotNull.cast("int").as("in_float"),
        col("cos_int8").isNotNull.cast("int").as("in_int8"),
        col("cos_float"), col("cos_int8"))
      .orderBy(col("vec_id"))
  }

  /** EXACT, engine-neutral Lloyd k-means (fixed seeds, fixed rounds) —
    * the oracle-checkable sibling of the approximate IVF trainer:
    * centroids seed from vec_id 0..k-1, inputs snap onto an integer
    * 1e-6 grid, and from there every distance, argmin and centroid
    * update is pure integer / exact-double arithmetic, so the final
    * assignment is a deterministic function of the input in ANY engine
    * (the DuckDB oracle runs the identical unrolled rounds).
    *
    * Per round: assignment joins the exploded (vec_id, dim, x6) frame
    * to the k·dim centroid table on `dim` (broadcast — the centroid
    * table is k·dim rows), aggregates squared deltas per (vec, cluster)
    * and argmins via a per-vec window; the update re-aggregates members
    * per (cluster, dim) with an exact long sum and a floor-divide mean
    * (exact: |sum| < 2^53 by the grid bound). The point frame is
    * localCheckpoint'd once and reused every round.
    *
    * Scale: cost is rounds × |vecs|·dim·k join rows — the dense
    * all-pairs work k-means fundamentally is; at larger k or corpus,
    * mini-batching or the IVF trainer's sampled Lloyd is the path (this
    * op is the exact small-k calibration/verification tool).
    */
  /** Gate for the Lloyd driver fast path: vector count at or below this
    * (measured by count(), never assumed) runs the rounds in local
    * arrays; above it the relational rounds stand. 100k vecs × 64 dims
    * on the long grid is ~51 MB — comfortably driver-sized; the
    * distributed path is the honest shape beyond that.
    */
  val KmeansDriverVecMax: Long = 100000L

  /** Driver replica of the relational Lloyd rounds shared by
    * [[kmeansExact]] (m = 1) and [[pqEncode]]: the SAME 1e-6 grid
    * (floor(x·1e6) longs), the same vec_id<k seeding, the same
    * (dist, cluster) argmin tie-break, the same floor(sum/count)
    * centroid update on exact long sums — addition order can't matter,
    * so outputs are bit-identical to the relational path (pinned in
    * ExtSpec). Returns the final assignment: (vec_id, sub, cluster,
    * distSq6) rows, one per (vec, sub) that had any centroid to join.
    */
  private def lloydDriver(
      rows: Array[(Long, Array[Double])],
      m: Int, subDim: Int, k: Int, rounds: Int): Array[(Long, Int, Long, Long)] = {
    val x6 = rows.map { case (_, a) => a.map(v => math.floor(v * 1.0e6).toLong) }
    // per sub: cluster id (the seed vec_id) -> centroid slice
    var cents: Array[Map[Long, Array[Long]]] = {
      val seedIdx = rows.indices.filter(i => rows(i)._1 < k)
      Array.tabulate(m) { s =>
        seedIdx.map { i =>
          rows(i)._1 ->
            java.util.Arrays.copyOfRange(x6(i), s * subDim, (s + 1) * subDim)
        }.toMap
      }
    }
    // argmin over (dist, cluster) — the relational row_number tie-break
    def assignOne(i: Int, s: Int): Option[(Long, Long)] = {
      var bestC = Long.MaxValue; var bestD = Long.MaxValue; var found = false
      cents(s).foreach { case (c, cs) =>
        var d = 0L; var j = 0
        while (j < subDim) {
          val diff = x6(i)(s * subDim + j) - cs(j); d += diff * diff; j += 1
        }
        if (!found || d < bestD || (d == bestD && c < bestC)) {
          found = true; bestD = d; bestC = c
        }
      }
      if (found) Some((bestC, bestD)) else None
    }
    for (_ <- 1 to rounds) {
      // members per (sub, cluster), then floor-divide mean per dim
      val next = Array.fill(m)(Map.empty[Long, Array[Long]])
      val counts = Array.fill(m)(Map.empty[Long, Long])
      for (s <- 0 until m; i <- rows.indices) assignOne(i, s).foreach { case (c, _) =>
        val sums = next(s).getOrElse(c, new Array[Long](subDim))
        var j = 0
        while (j < subDim) { sums(j) += x6(i)(s * subDim + j); j += 1 }
        next(s) = next(s).updated(c, sums)
        counts(s) = counts(s).updated(c, counts(s).getOrElse(c, 0L) + 1L)
      }
      cents = Array.tabulate(m) { s =>
        next(s).map { case (c, sums) =>
          val nC = counts(s)(c).toDouble
          c -> sums.map(v => math.floor(v.toDouble / nC).toLong)
        }
      }
    }
    (for (i <- rows.indices; s <- 0 until m; a <- assignOne(i, s))
      yield (rows(i)._1, s, a._1, a._2)).toArray
  }

  /** Collect the embedding frame for the driver path (gate already
    * measured): same projection the relational `pts` frame explodes.
    */
  private def collectVecs(embeddings: DataFrame): Array[(Long, Array[Double])] =
    embeddings
      .select(col("vec_id").cast("long"), col("embedding").cast("array<double>"))
      .collect()
      .map(r => (r.getLong(0), r.getSeq[Double](1).toArray))

  def kmeansExact(embeddings: DataFrame, k: Int = 4, rounds: Int = 2,
      driverVecMax: Long = KmeansDriverVecMax): DataFrame = {
    require(k >= 2 && rounds >= 1, s"k=$k rounds=$rounds out of range")
    // Measured-small fast path (same adaptive-gate pattern as
    // Graph.kCore / hitsBipartite): the relational rounds cost
    // rounds × (broadcast join + agg + window) stage chains — pure
    // scheduling overhead when the point set fits the driver. Identical
    // integer arithmetic, bit-equal output (ExtSpec pins it).
    if (embeddings.count() <= driverVecMax) {
      val rows = collectVecs(embeddings)
      if (rows.nonEmpty) {
        val dim = rows(0)._2.length
        if (rows.forall(_._2.length == dim)) {
          val out = lloydDriver(rows, 1, dim, k, rounds)
            .map { case (v, _, c, d) => (v, c, d) }.sortBy(_._1)
          import embeddings.sparkSession.implicits._
          return out.toSeq.toDF("vec_id", "cluster", "dist_sq6")
        }
      }
    }
    val pts = embeddings
      .select(col("vec_id").cast("long").as("vec_id"),
        posexplode(col("embedding").cast("array<double>")))
      .select(col("vec_id"), col("pos").as("dim"),
        floor(col("col") * lit(1.0e6)).cast("long").as("x6"))
      .localCheckpoint(false) // reused by every round's join + update
    def assign(cents: DataFrame): DataFrame = {
      val d = col("x6") - col("c6")
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(col("vec_id")).orderBy(col("dist"), col("cluster"))
      pts.join(broadcast(cents), "dim")
        .groupBy(col("vec_id"), col("cluster"))
        .agg(sum(d * d).cast("long").as("dist"))
        .withColumn("rn", row_number().over(w)).filter(col("rn") === 1)
        .select(col("vec_id"), col("cluster"), col("dist"))
    }
    var cents = pts.filter(col("vec_id") < k)
      .select(col("vec_id").as("cluster"), col("dim"), col("x6").as("c6"))
    for (_ <- 1 to rounds) {
      val a = assign(cents).select(col("vec_id"), col("cluster"))
      cents = pts.join(a, "vec_id")
        .groupBy(col("cluster"), col("dim"))
        .agg(floor(sum(col("x6")).cast("double") / count(lit(1)).cast("double"))
          .cast("long").as("c6"))
        .localCheckpoint(false)
    }
    assign(cents)
      .select(col("vec_id"), col("cluster"), col("dist").as("dist_sq6"))
      .orderBy(col("vec_id"))
  }

  /** EXACT product quantization (Jégou et al., "Product Quantization
    * for Nearest Neighbor Search", TPAMI 2011): the vector splits into
    * `m` contiguous subspaces and each subspace is vector-quantized
    * independently with its own small codebook — storage falls from
    * dim·4 bytes to m codes, and ADC search scans codes against m
    * lookup tables. This is the engine-neutral, oracle-checkable
    * trainer+encoder: same integer-1e-6-grid arithmetic as
    * [[kmeansExact]], codebooks seeded from vec_id 0..k-1, fixed Lloyd
    * rounds, so codes and distortion are a deterministic function of
    * the input in any engine.
    *
    * All m sub-quantizers train in ONE plan: the exploded point frame
    * carries a `sub` key (dim div dim/m) and every join/aggregate is
    * keyed by it, so adding subspaces adds no passes. Per round the
    * broadcast codebook is m·k·(dim/m) = k·dim rows — identical to
    * flat k-means — while assignment distance sums shrink to
    * per-subspace slices. Scale cost: rounds × |vecs|·dim·k join rows,
    * the irreducible dense quantizer-training work; encode-only reuse
    * of a trained codebook is one broadcast join.
    *
    * Output: vec_id, one code column per subspace, and the total
    * squared reconstruction distortion on the 1e-6 grid — the PQ
    * compression-quality statement.
    */
  def pqEncode(
      embeddings: DataFrame,
      m: Int = 4,
      dim: Int = 64,
      k: Int = 8,
      rounds: Int = 2,
      driverVecMax: Long = KmeansDriverVecMax): DataFrame = {
    require(m >= 1 && dim % m == 0, s"dim=$dim not divisible by m=$m")
    require(k >= 2 && rounds >= 1, s"k=$k rounds=$rounds out of range")
    val subDim = dim / m
    // Measured-small driver fast path — see [[kmeansExact]]; the m
    // sub-quantizers train in the same local arrays, and the output
    // (codes + total distortion) is bit-equal to the relational rounds
    // (ExtSpec pins it). A vec missing from SOME sub's surviving
    // centroid set keeps null in that code column, exactly like the
    // relational max(when(...)) pivot.
    if (embeddings.count() <= driverVecMax) {
      val rows = collectVecs(embeddings)
      if (rows.nonEmpty && rows.forall(_._2.length == dim)) {
        val asg = lloydDriver(rows, m, subDim, k, rounds)
        val byVec = asg.groupBy(_._1)
        val out = byVec.toSeq.sortBy(_._1).map { case (v, rs) =>
          val codes = Array.fill[java.lang.Long](m)(null)
          var dist = 0L
          rs.foreach { case (_, s, c, d) => codes(s) = c; dist += d }
          org.apache.spark.sql.Row.fromSeq(v +: (codes.toSeq :+ dist))
        }
        val schema = org.apache.spark.sql.types.StructType(
          org.apache.spark.sql.types.StructField("vec_id",
            org.apache.spark.sql.types.LongType, nullable = false) +:
          ((0 until m).map(s => org.apache.spark.sql.types.StructField(s"code$s",
            org.apache.spark.sql.types.LongType, nullable = true)) :+
          org.apache.spark.sql.types.StructField("dist_sq6",
            org.apache.spark.sql.types.LongType, nullable = false)))
        import scala.jdk.CollectionConverters._
        return embeddings.sparkSession.createDataFrame(out.asJava, schema)
      }
    }
    val pts = embeddings
      .select(col("vec_id").cast("long").as("vec_id"),
        posexplode(col("embedding").cast("array<double>")))
      .select(col("vec_id"), col("pos").as("dim"),
        (col("pos") / subDim).cast("int").as("sub"),
        floor(col("col") * lit(1.0e6)).cast("long").as("x6"))
      .localCheckpoint(false) // reused by every round's join + update
    def assign(cents: DataFrame): DataFrame = {
      val d = col("x6") - col("c6")
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(col("vec_id"), col("sub")).orderBy(col("dist"), col("cluster"))
      pts.join(broadcast(cents), Seq("sub", "dim"))
        .groupBy(col("vec_id"), col("sub"), col("cluster"))
        .agg(sum(d * d).cast("long").as("dist"))
        .withColumn("rn", row_number().over(w)).filter(col("rn") === 1)
        .select(col("vec_id"), col("sub"), col("cluster"), col("dist"))
    }
    var cents = pts.filter(col("vec_id") < k)
      .select(col("vec_id").as("cluster"), col("sub"), col("dim"), col("x6").as("c6"))
    for (_ <- 1 to rounds) {
      val a = assign(cents).select(col("vec_id"), col("sub"), col("cluster"))
      cents = pts.join(a, Seq("vec_id", "sub"))
        .groupBy(col("cluster"), col("sub"), col("dim"))
        .agg(floor(sum(col("x6")).cast("double") / count(lit(1)).cast("double"))
          .cast("long").as("c6"))
        .localCheckpoint(false)
    }
    val codeCols = (0 until m).map(s =>
      max(when(col("sub") === s, col("cluster"))).cast("long").as(s"code$s"))
    assign(cents)
      .groupBy(col("vec_id"))
      .agg(codeCols.head, (codeCols.tail :+
        sum(col("dist")).cast("long").as("dist_sq6")): _*)
      .orderBy(col("vec_id"))
  }

  /** Embedding outlier mining: the k vectors farthest from the corpus
    * centroid — the cheap first screen for mislabeled, corrupt, or
    * out-of-distribution rows before they poison centroid-based ANN
    * training or contrastive sampling. The centroid is trunc4'd BEFORE
    * distances (both engines consume bit-identical coordinates, the
    * [[clusterQuality]] policy); per-vector distance is one exploded
    * partial aggregate; the ranking is TakeOrdered top-k, never a full
    * sort. Output ties break on vec_id so the cut is deterministic.
    */
  def embeddingOutliers(embeddings: DataFrame, k: Int = 20): DataFrame = {
    import graft.ext.Num.trunc4
    require(k >= 1, s"k=$k out of range")
    val x = embeddings.select(col("vec_id"), col("label"),
      posexplode(col("embedding").cast("array<double>")).as(Seq("dim", "v")))
    val cent = x.groupBy(col("dim"))
      .agg(avg(col("v")).as("mu"))
      .select(col("dim"), trunc4(col("mu")).as("mu4"))
    x.join(broadcast(cent), "dim")
      .groupBy(col("vec_id"), col("label"))
      .agg(sum((col("v") - col("mu4")) * (col("v") - col("mu4"))).as("d2"))
      .select(col("vec_id"), col("label"), trunc4(sqrt(col("d2"))).as("dist4"))
      .orderBy(col("dist4").desc, col("vec_id"))
      .limit(k)
  }
}
