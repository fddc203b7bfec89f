package graft.ext

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Relational graph analytics over pair tables (the near-dup pair
  * graphs the Dedup pipelines emit). Iterative algorithms are expressed
  * as a FIXED number of join+aggregate rounds — each round is one
  * co-partitioned shuffle on the node key, no driver-side graph state,
  * so a round costs O(|E|/p) per task at any scale. Fixed iteration
  * count (rather than convergence polling) is what keeps the whole
  * computation one lazy plan AND makes the result an engine-neutral
  * deterministic function of the input — the same unrolled arithmetic
  * runs as chained CTEs in the DuckDB oracle.
  */
object Graph {

  /** Default measured-volume gate for the driver fast paths (pageRank /
    * kCore / labelPropagation): edge lists at or below this run the
    * iteration locally, larger graphs run the relational rounds. Named
    * (rather than a per-signature literal) so audits — tools/GateAudit —
    * report against the SAME value the operators decide with.
    */
  val DriverEdgeMaxDefault: Long = 200000L

  /** HITS fast-path bound. Also the HARD long-arithmetic cap: scores
    * grow at worst like E^iters, and 1e6^3 < 2^63 keeps the exact long
    * sums overflow-free at iters <= 3, so [[hitsBipartite]] clamps any
    * caller-raised driverEdgeMax to this for the local path.
    */
  val HitsDriverEdgeMax: Long = 1000000L

  /** ONE-JOB volume gate for the driver fast paths: collect at most
    * `max`+1 rows and return them iff the frame fits. Strictly
    * dominates the previous count()-then-collect() gate at BOTH ends
    * of the scale: a fitting frame pays ONE job instead of two
    * (the count of a lazily-checkpointed edge list is a full
    * materialization pass), and an oversized frame stops after
    * `max`+1 rows — CollectLimit reads partitions incrementally —
    * instead of counting billions of edges just to learn "too big".
    * The gate stays HARD: length is checked on the collected rows
    * themselves, so no estimate can smuggle an oversized graph onto
    * the driver.
    */
  private[ext] def probeCollect(
      df: DataFrame, max: Long): Option[Array[Long]] = {
    // One-JOB probe over a strictly (long, long) frame, returning the
    // edges INTERLEAVED (a0,b0,a1,b1,...). The earlier limit+collect
    // formulation shipped |E| boxed Row objects through executeTake
    // and deserialized them one by one on the driver — measured
    // (600k-edge q_hits stream, interleaved medians):
    // row limit+collect 0.72-1.06s vs chunk-packed 0.55-0.72s against
    // a 0.54-0.68s bare-noop floor, i.e. the packed collect is ~free
    // while the Row path adds 0.2-0.4s per probe. Each task packs its
    // partition's pairs into primitive long-array chunks (UnsafeArrayData
    // on the wire, no per-row object) and STOPS CONSUMING after max+1
    // pairs, flagging overflow — the same per-partition early-stop and
    // memory bound (16 bytes/pair, vs a Row object each) as the old
    // LocalLimit, and the same one-job shape at both ends of the gate.
    // The gate stays HARD: the total pair count is checked on the
    // collected chunks themselves, never an estimate.
    if (max < 0L || max >= Int.MaxValue.toLong / 2 - 1) return None
    val spark = df.sparkSession
    import spark.implicits._
    val lim = max.toInt
    val chunkPairs = 1 << 16
    val chunks = df.as[(Long, Long)].mapPartitions { it =>
      val out = scala.collection.mutable.ArrayBuffer.empty[(Boolean, Array[Long])]
      var cur = new Array[Long](2 * chunkPairs)
      var n = 0
      var total = 0
      var overflow = false
      while (it.hasNext && !overflow) {
        val (a, b) = it.next()
        total += 1
        if (total > lim) overflow = true
        else {
          cur(n) = a; cur(n + 1) = b; n += 2
          if (n == cur.length) {
            out += ((false, cur)); cur = new Array[Long](2 * chunkPairs); n = 0
          }
        }
      }
      if (overflow) Iterator.single((true, Array.empty[Long]))
      else {
        if (n > 0) out += ((false, java.util.Arrays.copyOf(cur, n)))
        out.iterator
      }
    }.collect()
    val totalPairs = chunks.map(_._2.length.toLong).sum / 2
    if (chunks.exists(_._1) || totalPairs > max) None
    else {
      val flat = new Array[Long](2 * totalPairs.toInt)
      var w = 0
      chunks.foreach { case (_, c) =>
        System.arraycopy(c, 0, flat, w, c.length); w += c.length
      }
      Some(flat)
    }
  }

  /** [[probeCollect]]'s interleaved result as (a, b) tuples — for the
    * driver loops that work on pair collections rather than indexed
    * arrays. */
  private[ext] def pairsOf(flat: Array[Long]): Array[(Long, Long)] = {
    val out = new Array[(Long, Long)](flat.length / 2)
    var i = 0
    while (i < out.length) { out(i) = (flat(2 * i), flat(2 * i + 1)); i += 1 }
    out
  }

  /** K-iteration PageRank on an UNDIRECTED pair graph (each pair
    * contributes both directions; rank flows along both). rank_0 =
    * 1/N; rank_{t+1}(v) = (1-d)/N + d * sum over in-neighbors u of
    * rank_t(u)/deg(u). No dangling-node term is needed: undirected
    * expansion gives every node at least one out-edge.
    *
    * Output is rank * N (mean 1.0) so the trunc4 comparison grid holds
    * ~4 significant decimals regardless of graph size (raw ranks are
    * O(1/N) and would truncate to zero resolution).
    *
    * Scale shape: edges join ranks on src (co-partitioned after the
    * first round — same key), partial-first SUM per dst; degrees fold
    * in BEFORE the loop so each round is one join + one aggregate. N
    * arrives via a broadcast 1-row aggregate, never an eager count.
    */
  def pageRank(
      pairs: DataFrame,
      aCol: String,
      bCol: String,
      iters: Int = 3,
      damping: Double = 0.85,
      driverEdgeMax: Long = DriverEdgeMaxDefault): DataFrame = {
    require(iters >= 1 && damping > 0 && damping < 1,
      s"iters=$iters damping=$damping out of range")
    val spark = pairs.sparkSession
    // Probe the RAW PAIR frame, not the weighted edge pipeline: the
    // undirected expansion + degree fold reference the pair pipeline
    // four times, so probing downstream of them either re-executes the
    // (possibly expensive — ngramJaccardPairs at sf1 is ~4.5s) pipeline
    // per reference or needs the checkpoint back, whose eager toRdd
    // pre-pass + cache write are pure cost on the driver path. The
    // driver loop expands directions and counts degrees itself —
    // integer arithmetic it does in microseconds. Gate equivalence:
    // the old gate bounded the expanded edge list (2|pairs|) by
    // driverEdgeMax; bounding |pairs| by driverEdgeMax/2 admits
    // exactly the same graphs.
    // Measured-small fast path (same adaptive gate as [[kCore]] /
    // Dedup.clusterPairsStar): a near-dup centrality graph is typically
    // a few thousand pairs; 3 rounds of join+agg+checkpoint jobs on it
    // are pure scheduling overhead (measured d_pagerank 2.9s -> ~0.9s
    // at sf0.1). The driver iteration applies the identical formula —
    // the per-node inflow sum order differs, which is exactly the
    // summation noise the epsilon-compensated truncation below was
    // built to absorb (PropSpec pins it across partitionings). The
    // one-job [[probeCollect]] is a hard volume gate; larger graphs
    // run distributed.
    val prProbe = probeCollect(pairs.select(col(aCol).cast("long").as("a"),
      col(bCol).cast("long").as("b")), driverEdgeMax / 2)
    if (prProbe.isDefined) {
      import spark.implicits._
      // undirected expansion, driver-side (same as the relational
      // union): each pair contributes both directions
      val es = pairsOf(prProbe.get).flatMap { case (a, b) =>
        Seq((a, b), (b, a))
      }
      val nodeIds = es.map(_._1).distinct.sorted
      val idx = nodeIds.zipWithIndex.toMap
      val nn = nodeIds.length
      // out-degree per source — identical to the relational degree fold
      val degOf = new Array[Long](nn)
      es.foreach { case (s, _) => degOf(idx(s)) += 1L }
      var rank = Array.fill(nn)(1.0 / nn)
      (1 to iters).foreach { _ =>
        val inflow = new Array[Double](nn)
        es.foreach { case (s, d) => inflow(idx(d)) += rank(idx(s)) / degOf(idx(s)) }
        rank = Array.tabulate(nn)(i => (1.0 - damping) / nn + damping * inflow(i))
      }
      return nodeIds.zipWithIndex.map { case (node, i) =>
        (node, math.floor(rank(i) * nn * 10000.0 + 1e-6) / 10000.0)
      }.toSeq.toDF("node", "rank_x_n").orderBy(col("node"))
    }
    // Relational path: the pair pipeline and the weighted edge list are
    // each referenced by every round; LAZY localCheckpoints materialize
    // them once (measured d_pagerank 15.7s -> ~7s at sf1 when added —
    // exchange reuse does not reliably unify the fan-out).
    def pipeline(ckpt: DataFrame => DataFrame): DataFrame = {
      val p = ckpt(pairs.select(col(aCol).as("a"), col(bCol).as("b")))
      val edges = p.select(col("a").as("src"), col("b").as("dst"))
        .union(p.select(col("b").as("src"), col("a").as("dst")))
      val deg = edges.groupBy(col("src")).agg(count(lit(1)).as("deg"))
      // fold degree onto the edge once: each round then divides by a
      // column already co-located with the edge row
      ckpt(edges.join(deg, "src"))
    }
    // Relational path: rebuild with LAZY localCheckpoints — the pair
    // pipeline (possibly expensive: ngramJaccardPairs at sf1 is ~4.5s)
    // and the weighted edge list are each referenced by every round,
    // and exchange reuse does not reliably unify the fan-out (measured
    // d_pagerank 15.7s -> ~7s at sf1 when checkpointing was added).
    val edgesW = pipeline(_.localCheckpoint(false))
    // node set re-derived FROM the checkpoint so the seed never re-runs
    // the pair pipeline
    val nodes = edgesW.select(col("src").as("node")).distinct()
    val nTotal = nodes.agg(count(lit(1)).as("n_nodes")) // 1-row, broadcast
    var ranks: DataFrame = nodes.crossJoin(broadcast(nTotal))
      .select(col("node"), (lit(1.0) / col("n_nodes")).as("rank"), col("n_nodes"))
    (1 to iters).foreach { _ =>
      val contrib = edgesW
        .join(ranks.select(col("node").as("src"), col("rank")), "src")
        .select(col("dst").as("node"), (col("rank") / col("deg")).as("c"))
        .groupBy(col("node")).agg(sum(col("c")).as("inflow"))
      // per-round lazy checkpoint: round t+1 otherwise re-executes the
      // whole chain of rounds 1..t on every reference (|V| rows, cheap
      // to hold; lineage stays bounded like Dedup's contraction loop)
      ranks = ranks.select(col("node"), col("n_nodes"))
        .join(contrib, Seq("node"), "left")
        .select(col("node"),
          (lit(1.0 - damping) / col("n_nodes") +
            lit(damping) * coalesce(col("inflow"), lit(0.0))).as("rank"),
          col("n_nodes"))
        .localCheckpoint(false)
    }
    // Epsilon-compensated truncation, NOT plain trunc4: rank*N on
    // small/symmetric graphs lands on exact decimal rationals (1.425,
    // 0.75) that sit exactly ON the 1e-4 grid, where +-1 ulp of
    // summation-order noise flips floor() — across partitionings and
    // across engines (a PropSpec case caught the flip). Adding 1e-6
    // BEFORE flooring moves the boundary off the representable
    // rationals; both engines apply the identical formula.
    ranks
      .select(col("node"),
        (floor(col("rank") * col("n_nodes") * lit(10000.0) + lit(1e-6)) /
          lit(10000.0)).as("rank_x_n"))
      .orderBy(col("node"))
  }

  /** Triangle count + global clustering coefficient of an undirected
    * pair graph, via DEGREE-ORDERED edge orientation (Cohen / node-
    * iterator++): orient every edge from its lower-(degree, id)
    * endpoint to the higher one, enumerate wedges only at the oriented
    * source, and close each wedge with one join back to the oriented
    * edge list. Each triangle is counted exactly once, and — the scale
    * property — oriented out-degree is O(sqrt(|E|)) on ANY degree
    * distribution, so the wedge set stays near-linear even when the
    * raw graph has power-law hubs whose naive d^2 wedge count would
    * explode. All steps are joins + partial-first aggregates on node
    * keys; nothing is collected.
    *
    * Output: one row — n_nodes, n_edges, n_wedges (open+closed, from
    * the degree sequence: sum d*(d-1)/2), n_triangles, and the global
    * clustering coefficient 3T/W (trunc4; exact-integer operands so
    * both engines divide the same numbers).
    */
  def triangleStats(pairs: DataFrame, aCol: String, bCol: String): DataFrame = {
    import graft.ext.Num.trunc4
    val e = pairs.select(
        least(col(aCol), col(bCol)).cast("long").as("u"),
        greatest(col(aCol), col(bCol)).cast("long").as("v"))
      .filter(col("u") < col("v"))
      .distinct()
    val deg = e.select(col("u").as("x")).union(e.select(col("v").as("x")))
      .groupBy(col("x")).agg(count(lit(1)).as("d"))
    val ew = e
      .join(deg.select(col("x").as("u"), col("d").as("du")), "u")
      .join(deg.select(col("x").as("v"), col("d").as("dv")), "v")
    // ties break on node id; u < v by construction, so a tie keeps u->v
    val fwd = col("du") < col("dv") || col("du") === col("dv")
    // referenced three times below (two wedge legs + the closing join):
    // persist (not localCheckpoint) materializes the upstream pair
    // pipeline once while staying LAZY at plan-build time — a lazy
    // localCheckpoint still pays an eager toRdd pre-pass (full
    // analysis+optimization of the subtree, ~0.15s) on every call
    val dir = ew.select(
        when(fwd, col("u")).otherwise(col("v")).as("src"),
        when(fwd, col("v")).otherwise(col("u")).as("dst"),
        when(fwd, col("dv")).otherwise(col("du")).as("ddeg"))
      .persist()
    val wedges = dir.select(col("src"), col("dst").as("x"), col("ddeg").as("xd"))
      .join(dir.select(col("src"), col("dst").as("y"), col("ddeg").as("yd")), Seq("src"))
      .filter(col("xd") < col("yd") || (col("xd") === col("yd") && col("x") < col("y")))
    val tri = wedges
      .join(dir.select(col("src").as("x"), col("dst").as("y")), Seq("x", "y"), "left_semi")
      .agg(count(lit(1)).as("n_triangles"))
    val nodeStats = deg.agg(count(lit(1)).as("n_nodes"),
      sum(expr("d * (d - 1) div 2")).cast("long").as("n_wedges"))
    val edgeStats = e.agg(count(lit(1)).as("n_edges"))
    nodeStats.crossJoin(edgeStats).crossJoin(tri) // three 1-row aggregates
      .select(col("n_nodes"), col("n_edges"), col("n_wedges"), col("n_triangles"),
        when(col("n_wedges") > 0,
          trunc4(lit(3.0) * col("n_triangles").cast("double") / col("n_wedges").cast("double")))
          .otherwise(lit(0.0)).as("global_cc"))
  }

  /** Per-node local clustering coefficient c(v) = 2*tri(v) /
    * (d(v)*(d(v)-1)): how close each node's neighborhood is to a
    * clique — the standard "tightly-knit community member vs hub
    * bridging strangers" discriminator. Triangles are enumerated ONCE
    * each via the same degree-ordered wedge orientation as
    * [[triangleStats]] (each wedge is generated at its lowest-degree
    * apex, so heavy hubs never fan out quadratically), then exploded to
    * their three corners for the per-node counts. All counts stay exact
    * integers; the single IEEE divide per node is engine-neutral.
    * Returns the top-`k` nodes by coefficient (ties broken by node id;
    * only nodes with d >= 2 have a defined coefficient).
    */
  def localClustering(pairs: DataFrame, aCol: String, bCol: String, k: Int = 20): DataFrame = {
    import graft.ext.Num.trunc4
    val e = pairs.select(
        least(col(aCol), col(bCol)).cast("long").as("u"),
        greatest(col(aCol), col(bCol)).cast("long").as("v"))
      .filter(col("u") < col("v"))
      .distinct()
      .persist() // referenced by degrees, wedges and the closing join (lazy-plan: see triangles)
    val deg = e.select(col("u").as("x")).union(e.select(col("v").as("x")))
      .groupBy(col("x")).agg(count(lit(1)).as("d"))
    val ew = e
      .join(deg.select(col("x").as("u"), col("d").as("du")), "u")
      .join(deg.select(col("x").as("v"), col("d").as("dv")), "v")
    val fwd = col("du") < col("dv") || col("du") === col("dv")
    val dir = ew.select(
        when(fwd, col("u")).otherwise(col("v")).as("src"),
        when(fwd, col("v")).otherwise(col("u")).as("dst"),
        when(fwd, col("dv")).otherwise(col("du")).as("ddeg"))
      .persist()
    val wedges = dir.select(col("src"), col("dst").as("x"), col("ddeg").as("xd"))
      .join(dir.select(col("src"), col("dst").as("y"), col("ddeg").as("yd")), Seq("src"))
      .filter(col("xd") < col("yd") || (col("xd") === col("yd") && col("x") < col("y")))
    // inner (not semi) join: keep the closing edge so each triangle row
    // carries all three corners exactly once
    val tris = wedges
      .join(dir.select(col("src").as("x"), col("dst").as("y")), Seq("x", "y"))
      .select(explode(array(col("src"), col("x"), col("y"))).as("node"))
      .groupBy(col("node")).agg(count(lit(1)).as("tri"))
    deg.filter(col("d") >= 2)
      .join(tris, col("x") === col("node"), "left")
      .select(col("x").as("node"), col("d").as("degree"),
        coalesce(col("tri"), lit(0L)).cast("long").as("n_tri"),
        trunc4(lit(2.0) * coalesce(col("tri"), lit(0L)).cast("double") /
          (col("d") * (col("d") - 1)).cast("double")).as("cc4"))
      .orderBy(col("cc4").desc, col("node"))
      .limit(k)
  }

  /** k-core of an undirected graph by iterated degree pruning: delete
    * every node with degree < k, recompute degrees, repeat — the
    * standard dense-subgraph extractor (spam rings, power-user
    * communities) and the preprocessing cut before expensive clique /
    * community detection. The operator is defined as EXACTLY
    * `rounds` peel iterations (a converged peel is a no-op, so extra
    * rounds never change the answer): that makes the result
    * bit-reproducible on any engine at any scale without a fixpoint
    * certificate — the loop still early-exits the moment the edge
    * count stops shrinking. Fixture graphs converge well inside the
    * default 32 (10 rounds at sf0.01, 20 at sf0.1 — asserted in
    * ExtSpec on known graphs).
    *
    * Scale shape per round: one partial-first degree aggregate plus
    * two left_semi joins co-partitioned on the edge endpoints; the
    * edge set only shrinks, and `localCheckpoint` bounds lineage so
    * round N doesn't replay rounds 1..N-1. Nothing but the scalar
    * edge count ever reaches the driver.
    *
    * Measured-small fast path (same adaptive gate as
    * [[graft.ext.Dedup.clusterPairsStar]]): the first count — needed
    * anyway for convergence — is an EXACT edge census, so when the
    * canonical graph fits `driverEdgeMax` (default 200k edges ~ 3 MB)
    * the peel runs as driver arithmetic instead of ~2 materialized
    * jobs per round x ~20 rounds (measured 4.1s -> ~0.7s at sf0.1).
    * The gate is a hard bound on data volume reaching the driver;
    * larger graphs take the distributed loop unchanged, and both
    * paths' equality is test-pinned.
    */
  def kCore(pairs: DataFrame, aCol: String, bCol: String,
      k: Int = 3, rounds: Int = 32, driverEdgeMax: Long = DriverEdgeMaxDefault): DataFrame = {
    val spark = pairs.sparkSession
    // Probe the UN-checkpointed canonical edge set: the driver path
    // collects it exactly once, so the old checkpoint-then-count gate
    // paid an eager toRdd plan pass, a cache write, and a separate
    // count job it never needed (probeCollect is one job and IS the
    // census). The relational peel re-checkpoints below.
    val eRaw = pairs.select(
        least(col(aCol), col(bCol)).cast("long").as("u"),
        greatest(col(aCol), col(bCol)).cast("long").as("v"))
      .filter(col("u") < col("v"))
      .distinct()
    val kcProbe = probeCollect(eRaw, driverEdgeMax)
    if (kcProbe.isDefined) {
      import spark.implicits._
      var edges = pairsOf(kcProbe.get)
      var rr = 0
      var changed = true
      while (rr < rounds && changed) {
        val deg = new scala.collection.mutable.HashMap[Long, Int]()
        edges.foreach { case (u, v) =>
          deg(u) = deg.getOrElse(u, 0) + 1; deg(v) = deg.getOrElse(v, 0) + 1
        }
        val kept = edges.filter { case (u, v) => deg(u) >= k && deg(v) >= k }
        changed = kept.length != edges.length
        edges = kept
        rr += 1
      }
      val coreDeg = new scala.collection.mutable.HashMap[Long, Long]()
      edges.foreach { case (u, v) =>
        coreDeg(u) = coreDeg.getOrElse(u, 0L) + 1L
        coreDeg(v) = coreDeg.getOrElse(v, 0L) + 1L
      }
      return coreDeg.toSeq.sortBy(_._1).toDF("node", "core_degree")
        .orderBy(col("node"))
    }
    var e = eRaw.localCheckpoint(false)
    var prev = -1L
    var n = e.count()
    var r = 0
    while (r < rounds && n != prev) {
      prev = n
      val deg = e.select(col("u").as("x")).union(e.select(col("v").as("x")))
        .groupBy(col("x")).agg(count(lit(1)).as("d"))
      val keep = deg.filter(col("d") >= k).select(col("x"))
      e = e
        .join(keep.select(col("x").as("u")), Seq("u"), "left_semi")
        .join(keep.select(col("x").as("v")), Seq("v"), "left_semi")
        .localCheckpoint(false)
      n = e.count()
      r += 1
    }
    e.select(col("u").as("x")).union(e.select(col("v").as("x")))
      .groupBy(col("x")).agg(count(lit(1)).cast("long").as("core_degree"))
      .select(col("x").as("node"), col("core_degree"))
      .orderBy(col("node"))
  }

  /** Link prediction over an undirected co-occurrence graph: for every
    * NON-adjacent pair with >= 1 common neighbor, common-neighbor
    * count, Jaccard overlap of neighborhoods, and the Adamic–Adar
    * index sum_z 1/ln(d(z)) — rarer shared neighbors weigh more. The
    * candidate pairs are exactly the 2-hop wedge closures (generated
    * per shared neighbor, grouped once); existing edges are removed by
    * an anti join. AA weights are snapped to exact integers
    * (floor(1e6/trunc8(ln d)) — the ln output grid-snapped first, per
    * the [[Num.trunc8]] cross-engine convention) BEFORE the per-pair
    * sum, so the aggregation is order-independent and engine-neutral;
    * wedge centers always have d >= 2, so ln(d) > 0. Top-`k` by AA
    * score, ties by pair id.
    */
  def linkPrediction(pairs: DataFrame, aCol: String, bCol: String, k: Int = 20): DataFrame = {
    import graft.ext.Num.trunc4
    val e = pairs.select(
        least(col(aCol), col(bCol)).cast("long").as("u"),
        greatest(col(aCol), col(bCol)).cast("long").as("v"))
      .filter(col("u") < col("v"))
      .distinct()
      .persist() // adjacency, degrees and the anti join reuse it (lazy-plan: see triangles)
    val adj = e.select(col("u").as("x"), col("v").as("y"))
      .union(e.select(col("v").as("x"), col("u").as("y")))
    val deg = adj.groupBy(col("x")).agg(count(lit(1)).as("d"))
    // wedge closures around each center z: neighbor pairs (a < b)
    val centered = adj.select(col("y").as("z"), col("x").as("n"))
      .join(deg.select(col("x").as("z"), col("d").as("dz")), Seq("z"))
      .withColumn("w", floor(lit(1.0e6) /
        graft.ext.Num.trunc8(log(col("dz").cast("double")))).cast("long"))
    val cand = centered.select(col("z"), col("n").as("a"), col("w"))
      .join(centered.select(col("z"), col("n").as("b")), Seq("z"))
      .filter(col("a") < col("b"))
      .groupBy(col("a"), col("b"))
      .agg(count(lit(1)).cast("long").as("cn"), sum(col("w")).cast("long").as("aa_scaled"))
    val nonEdges = cand.join(
      e.select(col("u").as("a"), col("v").as("b")), Seq("a", "b"), "left_anti")
    nonEdges
      .join(deg.select(col("x").as("a"), col("d").as("da")), Seq("a"))
      .join(deg.select(col("x").as("b"), col("d").as("db")), Seq("b"))
      .select(col("a"), col("b"), col("cn"), col("aa_scaled"),
        trunc4(col("cn").cast("double") /
          (col("da") + col("db") - col("cn")).cast("double")).as("jaccard4"))
      .orderBy(col("aa_scaled").desc, col("a"), col("b"))
      .limit(k)
  }

  /** K-round HITS on a DIRECTED (here bipartite src->dst) edge set,
    * kept exact: scores stay UNNORMALIZED integers through the rounds —
    * a_{t+1}(v) = sum_{u->v} h_t(u), h_{t+1}(u) = sum_{u->v} a_{t+1}(v),
    * h_0 = 1 — so every intermediate is an order-independent DECIMAL(38,0)
    * sum (the classic per-round L2 normalization would make each round
    * a partition-order-dependent double fold). One normalization at the
    * END divides by the max authority: same ranking, one IEEE divide,
    * engine-neutral. With in-degrees ~d the scores grow like d^(2t), so
    * 38 digits bound the usable depth at ~4-5 rounds on a 1e4-degree
    * graph — documented, and far past the 2-3 rounds HITS needs to
    * stabilize its ordering.
    *
    * Scale shape: each round is two co-partitioned join+aggregates on
    * the edge key columns; edges are lazily checkpointed once (they are
    * referenced 2k times), and the final top-k is TakeOrdered, never a
    * full sort.
    */
  def hitsBipartite(
      edges: DataFrame, srcCol: String, dstCol: String,
      iters: Int = 3, k: Int = 20, driverEdgeMax: Long = HitsDriverEdgeMax): DataFrame = {
    import graft.ext.Num.trunc4
    require(iters >= 1, s"iters=$iters")
    val spark = edges.sparkSession
    // Neither distinct'd nor checkpointed yet: the driver fast path
    // below probes the PROJECTED edge stream — for the usual
    // fact-join edge build that plan is scan + broadcast-join +
    // project with NO shuffle at all, so the probe is one map-only
    // job and dedup happens driver-side on packed index pairs.
    // Gating on the pre-distinct row count is strictly conservative
    // for the long-overflow invariant (raw count >= distinct count).
    // The relational path distincts + checkpoints after the probe
    // declines.
    val eProj = edges.select(col(srcCol).cast("long").as("src"),
        col(dstCol).cast("long").as("dst"))
    // Measured-small fast path (same adaptive gate as [[pageRank]] /
    // [[kCore]]): the iteration alternates join keys every half-round,
    // so the distributed form pays ~2·iters edge-stream shuffles plus
    // their stage barriers — pure scheduling overhead on a graph that
    // fits the driver (measured q_hits 2.5s -> ~0.9s at sf0.1 on 600k
    // edges). The driver loop applies the identical arithmetic with
    // EXACT long sums (addition order can't matter), so the trunc4'd
    // ratios match the decimal path bit-for-bit. The count is a hard
    // volume gate; larger graphs run the relational rounds. Long-sum
    // overflow bound: values grow at worst like E^iters (star graph),
    // so the fast path requires BOTH iters <= 3 AND edges <= 1e6
    // (1e6^3 < 2^63) — a caller-raised driverEdgeMax widens only the
    // relational path's reach, never the long-arithmetic bound, so the
    // overflow invariant can't be voided from the signature. Both
    // paths round through IEEE double the same way at the single final
    // division (long->double and decimal(38,0)->double both
    // round-to-nearest on identical integer values), so the trunc4
    // grid agrees even above 2^53.
    val hitsProbe = if (iters <= 3)
      probeCollect(eProj, math.min(driverEdgeMax, HitsDriverEdgeMax))
    else None
    if (hitsProbe.isDefined) {
      import spark.implicits._
      val raw = hitsProbe.get
      val n = raw.length / 2
      val srcA = new Array[Long](n); val dstA = new Array[Long](n)
      var i = 0
      while (i < n) { srcA(i) = raw(2 * i); dstA(i) = raw(2 * i + 1); i += 1 }
      // sorted-distinct id arrays; binarySearch replaces the boxed
      // Long->Int maps (2 lookups x |E| dominated the old driver gap)
      def sortedDistinct(xs: Array[Long]): Array[Long] = {
        val c = xs.clone(); java.util.Arrays.sort(c)
        var w = 0; var r = 0
        while (r < c.length) {
          if (w == 0 || c(w - 1) != c(r)) { c(w) = c(r); w += 1 }
          r += 1
        }
        java.util.Arrays.copyOf(c, w)
      }
      val srcIds = sortedDistinct(srcA)
      val dstIds = sortedDistinct(dstA)
      // pack (srcIdx, dstIdx) into one long, sort, and let the sweep
      // loops skip adjacent duplicates — the driver-side `distinct()`
      // without a shuffle or a boxed hash set. Index widths are
      // |nodes| <= |E| <= 1e6 < 2^31, so the pack is lossless.
      val packed = new Array[Long](n)
      i = 0
      while (i < n) {
        val si = java.util.Arrays.binarySearch(srcIds, srcA(i))
        val di = java.util.Arrays.binarySearch(dstIds, dstA(i))
        packed(i) = (si.toLong << 32) | (di.toLong & 0xffffffffL)
        i += 1
      }
      java.util.Arrays.sort(packed)
      var m = 0 // distinct edge count after in-place dedup
      i = 0
      while (i < n) {
        if (m == 0 || packed(m - 1) != packed(i)) { packed(m) = packed(i); m += 1 }
        i += 1
      }
      val a = new Array[Long](dstIds.length)
      val h = new Array[Long](srcIds.length)
      i = 0
      while (i < m) { a((packed(i) & 0xffffffffL).toInt) += 1L; i += 1 } // round 1: in-degree
      def hubsFromAuths(): Unit = {
        java.util.Arrays.fill(h, 0L)
        var j = 0
        while (j < m) {
          h((packed(j) >>> 32).toInt) += a((packed(j) & 0xffffffffL).toInt); j += 1
        }
      }
      def authsFromHubs(): Unit = {
        java.util.Arrays.fill(a, 0L)
        var j = 0
        while (j < m) {
          a((packed(j) & 0xffffffffL).toInt) += h((packed(j) >>> 32).toInt); j += 1
        }
      }
      hubsFromAuths()
      (2 to iters).foreach { _ => authsFromHubs(); hubsFromAuths() }
      val mx = a.max.toDouble
      return dstIds.zipWithIndex
        .map { case (node, j) =>
          (node, math.floor(a(j).toDouble / mx * 10000.0) / 10000.0) }
        .sortBy { case (node, s) => (-s, node) }
        .take(k).toSeq.toDF("node", "authority4")
    }
    val e = eProj.distinct().localCheckpoint(false)
    // Round 1 folded: every hub seeds at h = 1, so the first authority
    // pass is just the in-degree — two stages (distinct + join) saved.
    // Each half-round is LAZILY checkpointed: round t's plan otherwise
    // embeds the whole chain of rounds 1..t-1 and correctness of the
    // cost then hangs on exchange reuse unifying every repeated
    // subplan — which is exactly what AQE sometimes failed to do here
    // (measured q_hits at sf1/6M edges: 12.3s vs 26.9s across runs,
    // same code). A score table is |nodes| rows — cheap to hold; the
    // final unreferenced hubs plan is never materialized (lazy).
    //
    // Score-side BROADCAST, count-gated: a checkpointed plan loses its
    // size statistics (LogicalRDD reports the default size), so the
    // planner shuffle-joins ALL edges against a |nodes|-row table every
    // half-round. When the score table is measured-small (<= 2M rows,
    // ~80 MB of (long, decimal)), broadcasting it turns each half-round
    // into scan + broadcast-hash-join + partial agg — the edge stream
    // never shuffles (measured q_hits at sf1: 18.5s -> see below).
    // Counting a lazily-checkpointed frame is ~free: the blocks are
    // materialized for the join anyway. Above the gate the shuffle
    // join stands — the honest plan for billion-node graphs.
    val bcastRowMax = 2000000L
    def scoreSide(df: DataFrame): DataFrame =
      if (df.count() <= bcastRowMax) broadcast(df) else df
    var auths: DataFrame = e.groupBy(col("dst"))
      .agg(count(lit(1)).cast("decimal(38,0)").as("a")).localCheckpoint(false)
    var hubs: DataFrame = e.join(scoreSide(auths), "dst")
      .groupBy(col("src")).agg(sum(col("a")).cast("decimal(38,0)").as("h"))
      .localCheckpoint(false)
    (2 to iters).foreach { _ =>
      auths = e.join(scoreSide(hubs), "src")
        .groupBy(col("dst")).agg(sum(col("h")).cast("decimal(38,0)").as("a"))
        .localCheckpoint(false)
      hubs = e.join(scoreSide(auths), "dst")
        .groupBy(col("src")).agg(sum(col("a")).cast("decimal(38,0)").as("h"))
        .localCheckpoint(false)
    }
    val mx = auths.agg(max(col("a")).as("mx"))
    auths.crossJoin(broadcast(mx))
      .select(col("dst").as("node"),
        trunc4(col("a").cast("double") / col("mx").cast("double")).as("authority4"))
      .orderBy(col("authority4").desc, col("node"))
      .limit(k)
  }

  /** Degree assortativity of an undirected pair graph: the Pearson
    * correlation of endpoint degrees over the directed edge expansion.
    * Positive = hubs link hubs (social-network shape), negative = hubs
    * link leaves (star / broadcast shape) — a one-row manifold-health
    * read on any pair graph the dedup pipelines emit. All five moments
    * are exact (degree products in DECIMAL(38,0), mirrored by DuckDB's
    * HUGEINT); only the final correlation touches doubles, trunc4'd.
    * The edge list is checkpointed once and joined to the degree table
    * on each endpoint — two broadcast-or-shuffle hash joins, no
    * quadratic anything.
    */
  def degreeAssortativity(pairs: DataFrame, aCol: String, bCol: String): DataFrame = {
    import graft.ext.Num.trunc4
    val und = pairs.select(
        least(col(aCol), col(bCol)).cast("long").as("u"),
        greatest(col(aCol), col(bCol)).cast("long").as("v"))
      .filter(col("u") < col("v")).distinct()
    val e = und.union(und.select(col("v").as("u"), col("u").as("v")))
      .localCheckpoint(false)
    val deg = e.groupBy(col("u")).agg(count(lit(1)).as("d"))
    val m = e
      .join(deg.select(col("u"), col("d").as("da")), "u")
      .join(deg.select(col("u").as("v"), col("d").as("db")), "v")
      .agg(count(lit(1)).as("n_dir_edges"),
        sum(col("da")).cast("long").as("sa"),
        sum(col("db")).cast("long").as("sb"),
        sum(col("da").cast("decimal(38,0)") * col("db")).cast("double").as("sab"),
        sum(col("da").cast("decimal(38,0)") * col("da")).cast("double").as("saa"),
        sum(col("db").cast("decimal(38,0)") * col("db")).cast("double").as("sbb"))
    val nD = col("n_dir_edges").cast("double")
    val saD = col("sa").cast("double")
    val sbD = col("sb").cast("double")
    val num = nD * col("sab") - saD * sbD
    val den = sqrt(nD * col("saa") - saD * saD) * sqrt(nD * col("sbb") - sbD * sbD)
    m.select(col("n_dir_edges"),
      when(col("n_dir_edges") > 0 && den =!= 0.0, trunc4(num / den))
        .otherwise(lit(0.0)).as("assortativity4"))
  }

  /** Synchronous, DETERMINISTIC label-propagation communities (Raghavan
    * et al. 2007, made engine-neutral): labels start as the node id;
    * each round every node simultaneously adopts the most frequent
    * label among its neighbors, ties broken by the SMALLEST label.
    * Classic async LPA is order-dependent (visit order changes the
    * result); the synchronous + min-tie-break formulation is a pure
    * function of the graph, so the identical unrolled rounds run as
    * chained CTEs in the oracle. A FIXED `rounds` count on both sides
    * (no convergence polling) keeps the plan lazy and the comparison
    * exact even if the labeling is still moving.
    *
    * Scale shape: each round is one co-partitioned join of the
    * adjacency list (hash on the neighbor key) + a two-level aggregate
    * (count per (node,label), then argmax via a per-node window over
    * the count frame, which is at most |E| rows). Per-round
    * `localCheckpoint(false)` bounds lineage like the other iterative
    * ops here. Isolated nodes never appear in a pair table, so every
    * node has >= 1 neighbor by construction.
    */
  def lpaCommunities(pairs: DataFrame, aCol: String, bCol: String,
      rounds: Int = 3, driverEdgeMax: Long = DriverEdgeMaxDefault): DataFrame = {
    require(rounds >= 1 && rounds <= 16, s"rounds=$rounds out of range")
    val spark = pairs.sparkSession
    val und = pairs.select(
        least(col(aCol), col(bCol)).cast("long").as("u"),
        greatest(col(aCol), col(bCol)).cast("long").as("v"))
      .filter(col("u") < col("v")).distinct()
    // un-checkpointed for the probe (driver path reads it exactly once;
    // a checkpoint would cost an eager toRdd plan pass + a cache write
    // there); the relational path checkpoints below, where the frame
    // really is joined once per round
    val adjRaw = und.select(col("u").as("x"), col("v").as("y"))
      .union(und.select(col("v").as("x"), col("u").as("y")))
    // Measured-small fast path (same adaptive gate as [[pageRank]] /
    // [[kCore]]): 3 synchronous rounds are ~12 join/window/checkpoint
    // jobs of pure stage latency on a few-thousand-edge graph. The
    // driver loop applies the IDENTICAL update rule — argmax neighbor
    // label by (count desc, label asc) over the PREVIOUS round's
    // labels — which is integer-deterministic, so the results are
    // bit-equal to the distributed path. The one-job [[probeCollect]]
    // is a hard volume gate; larger graphs run distributed.
    val lpaProbe = probeCollect(adjRaw.select(col("x"), col("y")), driverEdgeMax * 2)
    if (lpaProbe.isDefined) {
      import spark.implicits._
      val es = pairsOf(lpaProbe.get)
      val byNode = es.groupBy(_._1).map { case (x, nb) => x -> nb.map(_._2) }
      var labels: Map[Long, Long] = byNode.keysIterator.map(n => n -> n).toMap
      (1 to rounds).foreach { _ =>
        labels = byNode.map { case (x, nbs) =>
          val best = nbs.groupBy(labels).view
            .map { case (l, g) => (l, g.length) }
            .reduce((a, b) =>
              if (a._2 != b._2) { if (a._2 > b._2) a else b }
              else { if (a._1 < b._1) a else b })
          x -> best._1
        }
      }
      return labels.toSeq.toDF("node", "community").orderBy(col("node"))
    }
    val adj = adjRaw.localCheckpoint(false) // joined once per round
    var labels = adj.select(col("x").as("node")).distinct()
      .select(col("node"), col("node").as("label"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("x")).orderBy(col("n").desc, col("label"))
    for (_ <- 1 to rounds) {
      labels = adj
        .join(labels.select(col("node").as("y"), col("label")), Seq("y"))
        .groupBy(col("x"), col("label")).agg(count(lit(1)).as("n"))
        .withColumn("rn", row_number().over(w)).filter(col("rn") === 1)
        .select(col("x").as("node"), col("label"))
        .localCheckpoint(false)
    }
    labels.select(col("node"), col("label").as("community"))
      .orderBy(col("node"))
  }

  /** Bounded-hop BFS reach profile from the highest-degree node (ties
    * break on node id): how much of the graph is within 1, 2, 3 hops of
    * the hub — the reachability read on a near-dup pair graph ("is
    * duplication one big blob or many small islands"). Each hop is one
    * join frontier→edges plus an anti-join against the reached set —
    * frontier-proportional work, the textbook relational BFS round; the
    * reached set is lazily checkpointed per hop so round t+1 never
    * re-executes rounds 1..t. Hops that discover nothing emit no row
    * (and once a frontier is empty every later hop is too).
    */
  def bfsReach(
      pairs: DataFrame, aCol: String, bCol: String, maxHops: Int = 3,
      driverEdgeMax: Long = DriverEdgeMaxDefault): DataFrame = {
    require(maxHops >= 1, s"maxHops=$maxHops")
    val spark = pairs.sparkSession
    val fwd = pairs.select(col(aCol).cast("long").as("u"), col(bCol).cast("long").as("v"))
    // un-checkpointed for the probe; the relational path checkpoints
    // below (driver path reads the frame once — the old pre-probe
    // checkpoint paid an eager toRdd plan pass + cache write for it)
    val undRaw = fwd.union(fwd.select(col("v").as("u"), col("u").as("v")))
      .distinct()
    // Measured-small fast path (same adaptive gate as [[pageRank]] /
    // [[kCore]] / [[lpaCommunities]]): 3 relational hop rounds are ~10
    // join/anti-join/checkpoint jobs of pure stage latency on a
    // few-thousand-edge near-dup graph. The driver loop applies the
    // IDENTICAL rule — hub = max degree (ties: min node), hop sets via
    // frontier expansion minus the reached set — integer set algebra,
    // so the counts are bit-equal to the distributed path. The one-job
    // [[probeCollect]] is a hard volume gate; larger graphs run the
    // relational rounds.
    val bfsProbe = probeCollect(undRaw.select(col("u"), col("v")), driverEdgeMax * 2)
    if (bfsProbe.isDefined) {
      import spark.implicits._
      val es = pairsOf(bfsProbe.get)
      if (es.isEmpty) return spark.emptyDataset[(Long, Long)]
        .toDF("hop", "n_nodes")
      val adj = es.groupBy(_._1).map { case (u, nb) => u -> nb.map(_._2) }
      val hub = adj.view.map { case (u, nb) => (u, nb.length) }
        .reduce((a, b) =>
          if (a._2 != b._2) { if (a._2 > b._2) a else b }
          else { if (a._1 < b._1) a else b })._1
      var reached = Map[Long, Long](hub -> 0L)
      var frontier = Set(hub)
      (1 to maxHops).foreach { h =>
        val nxt = frontier.flatMap(u => adj.getOrElse(u, Array.empty[Long]))
          .filterNot(reached.contains)
        reached ++= nxt.iterator.map(_ -> h.toLong)
        frontier = nxt
      }
      return reached.groupBy(_._2).view
        .map { case (hop, g) => (hop, g.size.toLong) }.toSeq
        .toDF("hop", "n_nodes").orderBy(col("hop"))
    }
    val und = undRaw.localCheckpoint(false)
    val deg = und.groupBy(col("u")).agg(count(lit(1)).as("d"))
    val src = deg.orderBy(col("d").desc, col("u")).limit(1)
      .select(col("u").as("node"))
    var reached = src.withColumn("hop", lit(0L)).localCheckpoint(false)
    (1 to maxHops).foreach { h =>
      val frontier = reached.filter(col("hop") === (h - 1).toLong)
        .select(col("node").as("u"))
      val nxt = und.join(frontier, "u").select(col("v").as("node")).distinct()
        .join(reached.select(col("node")), Seq("node"), "left_anti")
        .withColumn("hop", lit(h.toLong))
      reached = reached.unionByName(nxt).localCheckpoint(false)
    }
    reached.groupBy(col("hop"))
      .agg(count(lit(1)).cast("long").as("n_nodes"))
      .orderBy(col("hop"))
  }
}
