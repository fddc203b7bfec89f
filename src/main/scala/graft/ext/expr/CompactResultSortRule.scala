package graft.ext.expr

import org.apache.spark.sql.catalyst.plans.logical._
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.internal.SQLConf

/** Optimizer rule: run a RESULT-DELIVERY sort on a single partition.
  *
  * A query-final `.orderBy(...)` plans as a range exchange, and a range
  * exchange must first run a SAMPLING JOB over its child to compute the
  * partition bounds. For a result-sized frame (a report, a top-k, an
  * aggregate — what a query hands back to its caller) that is pure
  * overhead: one extra job submission plus a range shuffle to N
  * partitions, paid per query, to parallelize a sort whose input the
  * next consumer will read as one result set anyway. The rewrite
  *
  *   Sort(order, global = true, child)
  *     -> Sort(order, global = false, Repartition(1, shuffle, child))
  *
  * gathers the result into one partition (round-robin shuffle — no
  * sampling pass) and sorts it locally: an identical total order,
  * produced by one shuffle and zero extra jobs.
  *
  * Scale honesty — two independent gates, both required:
  *  - SESSION: the session's shuffle-partition count must be <= 16
  *    (Bench sizes `spark.sql.shuffle.partitions` at ~64 MB of input
  *    per partition, so <= 16 means the ENTIRE input is ~1 GB or
  *    less). On a real cluster (thousands of shuffle partitions) the
  *    rule never fires and large sorted outputs keep the parallel
  *    range-partitioned sort.
  *  - PER PLAN: the sort child must be GROUP-SIZED — descending
  *    through cardinality-preserving wrappers (Project / Filter /
  *    Window / SubqueryAlias / repartitions), every cardinality ROOT
  *    must be an Aggregate, a Limit, or a literal relation (joins and
  *    unions of group-sized inputs stay group-sized). A final sort
  *    over such a subtree is a report: one row per group of something.
  *    Row-sized subtrees — a scan, a per-row projection or window over
  *    facts, an Expand/Generate — keep the planner's parallel range
  *    sort (measured: t12_unpivot 1.4s range-parallel vs 2.3s
  *    gathered; q_zscore 1.01s range vs 1.21s gathered, sf0.1).
  *
  *    The previous gate compared `stats.sizeInBytes` to a byte bound,
  *    but at this layer the estimates are junk in BOTH directions
  *    (measured at sf0.1: 4.4 MB for a 600k-row per-event frame that
  *    then sorted on one task; 1.4e25 bytes for a 250-row final
  *    aggregate behind a fact join, which then paid a pointless
  *    sampling job). Plan SHAPE is the signal that actually separates
  *    report-delivery sorts from data-sized sorts. The byte bound
  *    survives only where it is reliable — see [[smallScan]]. Within
  *    the firing regime the session gate still bounds a shape-gate
  *    miss: total input is ~1 GB, so the worst case is one oversized
  *    local sort, and `spark.graft.compactSort=false` is the escape
  *    hatch; A/B it with
  *    `tools.InterleavedAB <sfDir> 'spark.graft.compactSort=false'`.
  *
  * Matched conservatively: only the outermost Sort, reached from the
  * plan root through row-preserving, order-preserving wrappers
  * (Project / SubqueryAlias). Anything under a Limit is left alone —
  * sort+limit fuses into TakeOrderedAndProject, which is already the
  * cheapest shape. Mid-plan sorts (under joins, aggregates, windows)
  * are never touched.
  */
object CompactResultSortRule extends Rule[LogicalPlan] {

  private val MaxParts = 16

  private def enabled: Boolean = {
    val conf = SQLConf.get
    conf.numShufflePartitions <= MaxParts &&
      conf.getConfString("spark.graft.compactSort", "true") == "true"
  }

  override def apply(plan: LogicalPlan): LogicalPlan =
    if (!enabled) plan else rewriteRoot(plan)

  /** Descend from the root through row- and order-preserving wrappers
    * (Project / SubqueryAlias) and through write commands (Bench and
    * Verify both time WRITES, so the delivery sort sits under an
    * AppendData / InsertIntoHadoopFsRelationCommand node, never at the
    * literal root); rewrite the first global Sort found and stop. No
    * recursion past it — any deeper Sort is mid-plan and keeps its
    * planner-chosen shape.
    */
  private def rewriteRoot(plan: LogicalPlan): LogicalPlan = plan match {
    case s @ Sort(_, true, child, _)
        if !alreadyCompact(child) &&
          ((groupSized(child) && leavesWithinBackstop(child)) || smallScan(child)) =>
      s.copy(global = false,
        child = Repartition(numPartitions = 1, shuffle = true, child = child))
    case p: Project => p.copy(child = rewriteRoot(p.child))
    case a: SubqueryAlias => a.copy(child = rewriteRoot(a.child))
    case c: Command => c.mapChildren(rewriteRoot)
    case other => other
  }

  private def alreadyCompact(child: LogicalPlan): Boolean = child match {
    case Repartition(1, _, _) => true
    case _ => false
  }

  /** Shape gate: true iff every cardinality root under `p` is an
    * Aggregate, a Limit, or a literal relation — i.e. the frame is one
    * row per GROUP of something, not one row per INPUT row (see the
    * scale-honesty note above for why plan shape beats the size
    * estimates here). Conservative by construction: any node this
    * match does not recognize — Expand, Generate, scans, Range,
    * row-preserving maps over facts — is row-sized, so novel operators
    * default to the planner's parallel range sort.
    */
  private def groupSized(p: LogicalPlan): Boolean = p match {
    case _: Aggregate => true
    case _: GlobalLimit | _: LocalLimit => true
    case _: LocalRelation | _: OneRowRelation => true
    case _: Distinct | _: Deduplicate => true
    case j: Join => groupSized(j.left) && groupSized(j.right)
    case u: Union => u.children.forall(groupSized)
    case n @ (_: Project | _: Filter | _: Window | _: Sort |
        _: SubqueryAlias | _: RepartitionOperation) =>
      groupSized(n.children.head)
    case _ => false
  }

  /** Byte BACKSTOP on the shape gate (round-7 advisory): shape alone
    * admits ANY Aggregate, including a high-cardinality one (per-key
    * groups over a huge fact), whose gathered single-task sort would
    * be pathological. Whole-plan `stats.sizeInBytes` cannot veto it —
    * at this layer those estimates are junk in both directions (see
    * the scale-honesty note). What IS trustworthy is the LEAF relation
    * sizes (file-size-derived), and an aggregate's output is bounded
    * by its input: if every byte entering the plan sums under the
    * ceiling (default 1 GiB — generous: within the <=16-partition
    * session gate the volume rule implies ~1 GB of input anyway, so
    * this only vetoes externally-configured small-partition sessions
    * over big data), the gathered result is bounded too. Shape selects
    * the candidate set; leaf bytes veto pathological group counts.
    */
  private def leavesWithinBackstop(p: LogicalPlan): Boolean = {
    val ceiling = scala.util.Try(BigInt(SQLConf.get
      .getConfString("spark.graft.compactSortLeafMaxBytes", (1L << 30).toString)))
      .getOrElse(BigInt(1L << 30))
    p.collectLeaves().map(_.stats.sizeInBytes).sum <= ceiling
  }

  /** Secondary admission: a NARROW CHAIN — Project / Filter /
    * SubqueryAlias / repartition wrappers over a single leaf relation —
    * whose `stats.sizeInBytes` is within
    * `spark.graft.compactSortMaxBytes` (default 8 MB). For such chains
    * the estimate derives directly from file sizes, so unlike the
    * join- and window-bearing plans above it is trustworthy: this
    * re-admits dimension-table scans (sort a 25-row nation report)
    * without re-opening the door to per-row frames hiding behind an
    * under-read (those all carry a Join, Window, or Expand and fail
    * the chain test).
    */
  private def smallScan(p: LogicalPlan): Boolean = {
    def narrowChain(q: LogicalPlan): Boolean = q match {
      case _: LeafNode => true
      case n @ (_: Project | _: Filter | _: SubqueryAlias |
          _: RepartitionOperation) => narrowChain(n.children.head)
      case _ => false
    }
    // a malformed user-set value degrades to the default gate instead
    // of throwing inside the optimizer (which would fail every query)
    val maxBytes = scala.util.Try(BigInt(SQLConf.get
      .getConfString("spark.graft.compactSortMaxBytes", (8L << 20).toString)))
      .getOrElse(BigInt(8L << 20))
    narrowChain(p) && p.stats.sizeInBytes <= maxBytes
  }
}
