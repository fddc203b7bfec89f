package graft.ext

import org.apache.spark.sql.{Column, DataFrame, Dataset}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window

import graft.ext.expr.{DoubleOrderBits, Int128Sum}

/** Analytic aggregates over the fixture star schema — the reference has
  * ZERO aggregations (SURVEY.md §2.4), but the BASELINE north-star
  * requires analytics queries, and any engine at 100 TB lives or dies on
  * its aggregate path.
  *
  * Numeric-determinism policy for oracle parity: aggregate SUMs of
  * money columns are exact fixed-point sums — the inputs are exact
  * 2-decimal values, carried as scaled longs into the codegen'd 128-bit
  * accumulator [[graft.ext.expr.Int128Sum]]. Integer addition is exact
  * and associative, so the result is bit-identical regardless of
  * partial-aggregation order across partitions/engines, and matches
  * DuckDB's hugeint-backed decimal sum. (A double sum is
  * order-dependent; Spark's partial aggregate order is nondeterministic
  * at any parallelism > 1.)
  */
object Aggregates {

  /** TPC-H-Q1-shaped pricing summary over lineitem. Map-side partial
    * aggregation (hash agg) means the shuffle carries ~|groups| rows per
    * partition, not |input| — the canonical scale-safe aggregate shape.
    */
  def pricingSummary(lineitem: DataFrame): DataFrame = {
    // Fixture prices/discounts/taxes are exact 2-decimal values. Instead
    // of decimal arithmetic (whose >18-digit sum buffer falls onto the
    // BigDecimal path, ~4x slower than a double sum), represent each as
    // a scaled long (cents / percent) and sum products in the codegen'd
    // 128-bit accumulator [[graft.ext.expr.Int128Sum]]. Every per-row
    // product is exact integer arithmetic, so the result is bit-identical
    // to the decimal formulation (and to DuckDB's hugeint decimal sum)
    // at any partition count.
    Int128Sum.ensureRegistered(lineitem.sparkSession)
    val priceC = round(col("l_extendedprice") * 100d).cast("long") // cents
    val disc1C = round((lit(1d) - col("l_discount")) * 100d).cast("long")
    val tax1C  = round((lit(1d) + col("l_tax")) * 100d).cast("long")
    lineitem
      .groupBy(col("l_returnflag"), col("l_linestatus"))
      .agg(
        Int128Sum.sumFixed(col("l_quantity"), 2).cast("double").as("sum_qty"),
        Int128Sum.sumLong(priceC, 2).cast("double").as("sum_base_price"),
        Int128Sum.sumLong(priceC * disc1C, 4).cast("double").as("sum_disc_price"),
        Int128Sum.sumLong(priceC * disc1C * tax1C, 6).cast("double").as("sum_charge"),
        count(lit(1)).as("count_order"))
      .orderBy(col("l_returnflag"), col("l_linestatus"))
  }

  /** Revenue per nation: 3-way join where both dimension sides are
    * explicitly broadcast — at scale, `customer`/`nation` broadcast
    * while `orders` streams, so the plan has exactly zero shuffles
    * before the final small group-by.
    */
  def revenueByNation(orders: DataFrame, customer: DataFrame, nation: DataFrame): DataFrame = {
    Int128Sum.ensureRegistered(orders.sparkSession)
    orders
      .join(broadcast(customer), orders("o_custkey") === customer("c_custkey"))
      .join(broadcast(nation), customer("c_nationkey") === nation("n_nationkey"))
      .groupBy(col("n_name"))
      .agg(
        Int128Sum.sumFixed(col("o_totalprice"), 2).cast("double").as("revenue"),
        count(lit(1)).as("n_orders"))
      .orderBy(col("n_name"))
  }

  /** Top-k customers by lifetime order value. TakeOrderedAndProject after
    * the aggregate: the sort never shuffles the full table.
    */
  def topCustomers(orders: DataFrame, customer: DataFrame, k: Int = 10): DataFrame = {
    Int128Sum.ensureRegistered(orders.sparkSession)
    orders
      .groupBy(col("o_custkey"))
      .agg(Int128Sum.sumFixed(col("o_totalprice"), 2).cast("double").as("total_spend"),
        count(lit(1)).as("n_orders"))
      .join(broadcast(customer), col("o_custkey") === customer("c_custkey"))
      .select(col("o_custkey"), col("c_name"), col("total_spend"), col("n_orders"))
      .orderBy(col("total_spend").desc, col("o_custkey"))
      .limit(k)
  }

  /** Exact + distinct counts per group. `countDistinct` implies a
    * two-phase shuffle (expand); [[orderStatsApprox]] is the scale
    * path — a deterministic hash-sampled distinct estimator exposed
    * separately.
    */
  def orderStats(orders: DataFrame): DataFrame = {
    Int128Sum.ensureRegistered(orders.sparkSession)
    orders
      .groupBy(col("o_orderstatus"))
      .agg(
        countDistinct(col("o_custkey")).as("n_customers"),
        count(lit(1)).as("n_orders"),
        Int128Sum.sumFixed(col("o_totalprice"), 2).cast("double").as("total"))
      .orderBy(col("o_orderstatus"))
  }

  /** Approximate distinct customers per status via a DETERMINISTIC
    * hash-sampled estimator (the adaptive-sampling / Theta-sketch
    * family): count exact distincts only over the keys whose md5 leads
    * with hex '0' — a fixed 1/16 slice of the key universe — and scale
    * by 16. Same scale shape as HLL (one pass, the distinct shuffle
    * carries only the sampled 1/16 subuniverse, partial-aggregates
    * map-side), but unlike `approx_count_distinct` the answer is a pure
    * function of the key set, identical in any engine with md5 — which
    * is what lets the DuckDB oracle check the real approximate answer
    * instead of exempting it. Tighter accuracy <=> smaller scale-up:
    * widen the sampled slice (e.g. 2 hex chars, 1/256) as |keys| grows.
    *
    * ERROR BOUND (n-dependent — unlike HLL's flat ~2%): with n distinct
    * keys per group, the sampled count m ~ Binomial(n, 1/16), so the
    * estimate 16*m has mean n and relative standard error
    * sqrt(15/n) — ~4% at n=10_000, ~12% at n=1_000, and unusable below
    * n≈256 (quantized to multiples of 16; a group with n<16 can return
    * 0). For small-cardinality groups use the exact twin
    * [[orderStats]] instead — below ~1_000 distincts per group the
    * exact `countDistinct` shuffle is trivially cheap, which is
    * precisely the regime where this estimator's error blows up; the
    * two methods are published side by side for exactly that
    * adaptive choice.
    */
  def orderStatsApprox(orders: DataFrame): DataFrame =
    orders
      .groupBy(col("o_orderstatus"))
      .agg((count_distinct(
        when(substring(md5(col("o_custkey").cast("string")), 1, 1) === "0", col("o_custkey")))
        * 16).cast("long").as("approx_customers"))
      .orderBy(col("o_orderstatus"))

  /** DuckDB SQL replay of [[orderStatsApprox]] — same md5-slice
    * estimator, bit-identical by construction.
    */
  def orderStatsApproxOracleSql(table: String = "orders"): String =
    s"""SELECT o_orderstatus,
  CAST(COUNT(DISTINCT CASE WHEN substr(md5(CAST(o_custkey AS VARCHAR)), 1, 1) = '0'
                           THEN o_custkey END) * 16 AS BIGINT) AS approx_customers
FROM $table GROUP BY 1 ORDER BY 1"""

  /** Window function: rank orders within each customer, keep each
    * customer's single largest order. One shuffle on the partition key.
    */
  def largestOrderPerCustomer(orders: DataFrame): DataFrame = {
    val w = Window.partitionBy(col("o_custkey"))
      .orderBy(col("o_totalprice").desc, col("o_orderkey"))
    orders
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") === 1)
      .select(col("o_custkey"), col("o_orderkey"), col("o_totalprice").as("top_price"))
      .orderBy(col("o_custkey"))
  }

  /** Column profiling — the data-quality staple (row count, nulls,
    * distincts, min/max per column) in ONE aggregate pass over the
    * table, presented long-format via `stack`. min/max are stringified
    * so heterogeneous column types share the output schema; at 100 TB
    * this is a single partial-first aggregation, not a job per column.
    */
  def profile(df: DataFrame, cols: Seq[String]): DataFrame = {
    val aggs = count(lit(1)).as("__total") +: cols.flatMap { c =>
      Seq(
        count(col(c)).as(s"${c}__n"),
        count_distinct(col(c)).as(s"${c}__nd"),
        min(col(c)).cast("string").as(s"${c}__min"),
        max(col(c)).cast("string").as(s"${c}__max"))
    }
    val stackArgs = cols
      .map(c => s"'$c', `${c}__n`, `${c}__nd`, `${c}__min`, `${c}__max`")
      .mkString(", ")
    df.agg(aggs.head, aggs.tail: _*)
      .select(col("__total"),
        expr(s"stack(${cols.size}, $stackArgs) AS (column_name, n, n_distinct, min_s, max_s)"))
      .select(col("column_name"),
        col("__total").as("n_rows"),
        (col("__total") - col("n")).as("n_null"),
        col("n_distinct"), col("min_s"), col("max_s"))
      .orderBy(col("column_name"))
  }

  /** Running (cumulative) spend per customer in order-date order — the
    * window-FRAME aggregate next to the row_number ranking op: one
    * shuffle on the partition key, frame accumulation inside the
    * partition. Exact decimal accumulation per the money policy, cast
    * to double once per row for output.
    */
  def runningCustomerSpend(orders: DataFrame): DataFrame = {
    val w = Window.partitionBy(col("o_custkey"))
      .orderBy(col("o_orderdate"), col("o_orderkey"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    orders
      .select(col("o_custkey"), col("o_orderkey"),
        col("o_orderdate").cast("date").as("o_orderdate"),
        sum(col("o_totalprice").cast("decimal(18,4)")).over(w)
          .cast("double").as("running_spend"))
      .orderBy(col("o_custkey"), col("o_orderdate"), col("o_orderkey"))
  }

  /** Rolling event-time window: each order's total customer spend over
    * the trailing `days`-day window — a RANGE frame over epoch
    * microseconds (rows at the same instant are peers and aggregate
    * together, which a ROWS frame would get wrong). The frame bound is
    * pure integer arithmetic on unix_micros, identical in any engine;
    * the sum is input-cast exact decimal like every money aggregate
    * here.
    */
  def rollingCustomerSpend(orders: DataFrame, days: Int = 7): DataFrame = {
    // o_orderdate is TIMESTAMP_NTZ; unix_micros wants TIMESTAMP — the
    // session runs UTC, so the cast is an exact reinterpretation
    val w = Window.partitionBy(col("o_custkey"))
      .orderBy(unix_micros(col("o_orderdate").cast("timestamp")))
      .rangeBetween(-(days.toLong - 1L) * 86400L * 1000000L, Window.currentRow)
    orders
      .select(col("o_custkey"), col("o_orderkey"),
        col("o_orderdate").cast("date").as("o_orderdate"),
        sum(col("o_totalprice").cast("decimal(18,4)")).over(w)
          .cast("double").as("rolling_spend"))
      .orderBy(col("o_custkey"), col("o_orderdate"), col("o_orderkey"))
  }

  /** Navigation/ranking window functions over each customer's order
    * history: previous/next order value (lag/lead), spend quartile
    * within the customer (ntile), and percentile position
    * (percent_rank). One shuffle on o_custkey serves all four — they
    * share a single window definition, so Spark evaluates them in ONE
    * Window operator pass, not four.
    *
    * Cross-engine determinism: lag/lead are raw value passthrough;
    * ntile's bucket-size rule (earlier buckets get the extra rows) is
    * the SQL-standard one both engines implement; percent_rank is
    * (rank-1)/(n-1) — one exact IEEE division, trunc4'd like every
    * ratio.
    */
  def windowNavigation(orders: DataFrame): DataFrame = {
    val w = Window.partitionBy(col("o_custkey"))
      .orderBy(col("o_orderdate"), col("o_orderkey"))
    orders.select(
      col("o_orderkey"), col("o_custkey"),
      lag(col("o_totalprice"), 1).over(w).as("prev_price"),
      lead(col("o_totalprice"), 1).over(w).as("next_price"),
      ntile(4).over(w).cast("bigint").as("quartile"),
      graft.ext.Num.trunc4(percent_rank().over(w)).as("pr"))
      .orderBy(col("o_orderkey"))
  }

  /** Revenue by part brand: fact-to-dimension join where the dimension
    * (part) broadcasts and the fact (lineitem) streams — the canonical
    * star-schema aggregate. Exact-decimal revenue (input-cast, see
    * pricingSummary).
    */
  def revenueByBrand(lineitem: DataFrame, part: DataFrame): DataFrame = {
    Int128Sum.ensureRegistered(lineitem.sparkSession)
    val priceC = round(col("l_extendedprice") * 100d).cast("long")
    val disc1C = round((lit(1d) - col("l_discount")) * 100d).cast("long")
    lineitem
      .join(broadcast(part), lineitem("l_partkey") === part("p_partkey"))
      .groupBy(col("p_brand"))
      .agg(
        Int128Sum.sumLong(priceC * disc1C, 4).cast("double").as("revenue"),
        count(lit(1)).as("n_items"),
        countDistinct(col("l_partkey")).as("n_parts"))
      .orderBy(col("p_brand"))
  }

  /** Supplier league table: per-supplier shipped value joined back to
    * nation, top-k by value — fact aggregate first (shrinks to
    * |suppliers| rows), dimensions broadcast after.
    */
  def topSuppliers(lineitem: DataFrame, supplier: DataFrame, nation: DataFrame, k: Int = 15): DataFrame = {
    Int128Sum.ensureRegistered(lineitem.sparkSession)
    lineitem
      .groupBy(col("l_suppkey"))
      .agg(Int128Sum.sumFixed(col("l_extendedprice"), 2).cast("double").as("total_value"),
        count(lit(1)).as("n_lines"))
      .join(broadcast(supplier), col("l_suppkey") === supplier("s_suppkey"))
      .join(broadcast(nation), supplier("s_nationkey") === nation("n_nationkey"))
      .select(col("l_suppkey"), col("s_name"), col("n_name"), col("total_value"), col("n_lines"))
      .orderBy(col("total_value").desc, col("l_suppkey"))
      .limit(k)
  }

  /** Exact percentiles of order value per status. Spark's `percentile`
    * is the exact sort-based aggregate (use approx_percentile at true
    * scale — t-digest, single pass, fixed memory); trunc4 keeps the
    * interpolated doubles engine-portable.
    */
  def orderValueQuantiles(orders: DataFrame): DataFrame =
    orders
      .groupBy(col("o_orderstatus"))
      .agg(expr("percentile(o_totalprice, array(0.25, 0.5, 0.75))").as("q"))
      .select(col("o_orderstatus"),
        Num.trunc4(element_at(col("q"), 1)).as("p25"),
        Num.trunc4(element_at(col("q"), 2)).as("p50"),
        Num.trunc4(element_at(col("q"), 3)).as("p75"))
      .orderBy(col("o_orderstatus"))

  /** Rollup: region -> nation hierarchy totals (grouping sets). */
  def customerRollup(customer: DataFrame, nation: DataFrame, region: DataFrame): DataFrame = {
    Int128Sum.ensureRegistered(customer.sparkSession)
    customer
      .join(broadcast(nation), customer("c_nationkey") === nation("n_nationkey"))
      .join(broadcast(region), nation("n_regionkey") === region("r_regionkey"))
      .rollup(col("r_name"), col("n_name"))
      .agg(count(lit(1)).as("n_customers"),
        Int128Sum.sumFixed(col("c_acctbal"), 2).cast("double").as("total_bal"))
      .orderBy(col("r_name").asc_nulls_first, col("n_name").asc_nulls_first)
  }

  /** CUBE over (region, market segment): all 4 grouping combinations in
    * one pass — like rollup, Spark expands the grouping sets BEFORE the
    * partial aggregate, so the shuffle still carries one partial row per
    * (group, set), never the input. Completes the grouping-sets family
    * next to [[customerRollup]].
    */
  def customerCube(customer: DataFrame, nation: DataFrame, region: DataFrame): DataFrame = {
    Int128Sum.ensureRegistered(customer.sparkSession)
    customer
      .join(broadcast(nation), customer("c_nationkey") === nation("n_nationkey"))
      .join(broadcast(region), nation("n_regionkey") === region("r_regionkey"))
      .cube(col("r_name"), col("c_mktsegment"))
      .agg(count(lit(1)).as("n_customers"),
        Int128Sum.sumFixed(col("c_acctbal"), 2).cast("double").as("total_bal"))
      .orderBy(col("r_name").asc_nulls_first, col("c_mktsegment").asc_nulls_first)
  }

  /** TPC-H Q3 "shipping priority" shape: unshipped-as-of-`cut` revenue
    * per order for one market segment, top 10 by revenue. The classic
    * 3-way star query: both date filters and the segment filter reach
    * the scans (pushdown), the filtered customer dimension joins first
    * (AQE turns it broadcast when the segment slice is small — not
    * forced, the dimension is data-dependent at 100 TB), the lineitem
    * fact joins last on the already-reduced orders, and the final top-10
    * is TakeOrderedAndProject, never a global sort.
    *
    * Money determinism: revenue = sum(extprice * (1 - discount))
    * computed entirely in decimal (inputs cast BEFORE the multiply —
    * casting the double product would round differently per engine),
    * one cast to double after the exact sum.
    */
  /** TPC-H Q6 "forecasting revenue change": one-table filter + global
    * aggregate — every predicate reaches the parquet scan (PushedFilters
    * on shipdate/discount/quantity), the sum is a partial-first
    * single-group aggregate, and the revenue product follows the exact
    * decimal policy. The simplest possible 100 TB query: scan-local
    * work, one scalar crosses the wire per partition.
    */
  def forecastRevenue(
      lineitem: DataFrame,
      yearStart: String = "1997-01-01",
      yearEnd: String = "1998-01-01",
      discountLo: Double = 0.05,
      discountHi: Double = 0.07,
      maxQty: Double = 24): DataFrame =
    lineitem
      .filter(col("l_shipdate") >= lit(yearStart).cast("timestamp") &&
        col("l_shipdate") < lit(yearEnd).cast("timestamp") &&
        col("l_discount") >= discountLo && col("l_discount") <= discountHi &&
        col("l_quantity") < maxQty)
      .agg(sum(col("l_extendedprice").cast("decimal(18,4)") *
          col("l_discount").cast("decimal(18,4)"))
        .cast("double").as("revenue"),
        count(lit(1)).as("n_lines"))

  /** TPC-H Q10 "returned item reporting": top 20 customers by revenue
    * lost to returns in one quarter. Star shape: date-filtered orders x
    * returnflag-filtered lineitem x customer x broadcast nation; top-20
    * via TakeOrderedAndProject.
    */
  def returnedItemReport(
      customer: DataFrame,
      orders: DataFrame,
      lineitem: DataFrame,
      nation: DataFrame,
      quarterStart: String = "1997-01-01",
      quarterEnd: String = "1997-04-01"): DataFrame = {
    val o = orders.filter(col("o_orderdate") >= lit(quarterStart).cast("timestamp") &&
        col("o_orderdate") < lit(quarterEnd).cast("timestamp"))
      .select(col("o_orderkey"), col("o_custkey"))
    val rev = col("l_extendedprice").cast("decimal(18,4)") *
      (lit(1).cast("decimal(18,4)") - col("l_discount").cast("decimal(18,4)"))
    val l = lineitem.filter(col("l_returnflag") === "R")
      .select(col("l_orderkey"), rev.as("rev"))
    o.join(l, col("o_orderkey") === col("l_orderkey"))
      .groupBy(col("o_custkey"))
      .agg(sum(col("rev")).cast("double").as("revenue"))
      .join(customer, col("o_custkey") === customer("c_custkey"))
      .join(broadcast(nation), customer("c_nationkey") === nation("n_nationkey"))
      .select(col("c_custkey"), col("c_name"), col("revenue"),
        col("c_acctbal"), col("n_name"))
      .orderBy(col("revenue").desc, col("c_custkey"))
      .limit(20)
  }

  /** TPC-H Q5 "local supplier volume": revenue per nation from orders
    * where the customer and the line's supplier sit in the SAME nation,
    * for one region and one order-date year. The 6-table star: nation
    * and region are bounded dimensions (broadcast — a fixed catalog,
    * not data-dependent), supplier/customer join on their keys with the
    * same-nation predicate as part of the supplier join condition, the
    * date filter reaches the orders scan. Revenue follows the exact
    * decimal policy (inputs cast before multiply, one final double
    * cast).
    */
  def localSupplierVolume(
      customer: DataFrame,
      orders: DataFrame,
      lineitem: DataFrame,
      supplier: DataFrame,
      nation: DataFrame,
      region: DataFrame,
      regionName: String = "ASIA",
      yearStart: String = "1997-01-01",
      yearEnd: String = "1998-01-01"): DataFrame = {
    Int128Sum.ensureRegistered(lineitem.sparkSession)
    val o = orders.filter(col("o_orderdate") >= lit(yearStart).cast("timestamp") &&
        col("o_orderdate") < lit(yearEnd).cast("timestamp"))
      .select(col("o_orderkey"), col("o_custkey"))
    // money policy: cents x (100 - discount%) exact longs into the
    // codegen'd int128 sum (scale 4) — identical value to the
    // decimal(18,4) product sum, ~2x cheaper per row (see Q1)
    val priceC = round(col("l_extendedprice") * 100d).cast("long")
    val disc1C = round((lit(1d) - col("l_discount")) * 100d).cast("long")
    val l = lineitem.select(col("l_orderkey"), col("l_suppkey"),
      (priceC * disc1C).as("rev4"))
    customer.select(col("c_custkey"), col("c_nationkey"))
      .join(o, col("c_custkey") === col("o_custkey"))
      .join(l, col("o_orderkey") === col("l_orderkey"))
      .join(supplier.select(col("s_suppkey"), col("s_nationkey")),
        col("l_suppkey") === col("s_suppkey") && col("c_nationkey") === col("s_nationkey"))
      .join(broadcast(nation), col("s_nationkey") === nation("n_nationkey"))
      .join(broadcast(region.filter(col("r_name") === regionName)),
        nation("n_regionkey") === region("r_regionkey"))
      .groupBy(col("n_name"))
      .agg(Int128Sum.sumLong(col("rev4"), 4).cast("double").as("revenue"))
      .orderBy(col("revenue").desc, col("n_name"))
  }

  def shippingPriority(
      customer: DataFrame,
      orders: DataFrame,
      lineitem: DataFrame,
      segment: String = "BUILDING",
      cut: String = "1998-06-01"): DataFrame = {
    val c = customer.filter(col("c_mktsegment") === segment).select(col("c_custkey"))
    val o = orders.filter(col("o_orderdate") < lit(cut).cast("timestamp"))
      .select(col("o_orderkey"), col("o_custkey"), col("o_orderdate"), col("o_orderpriority"))
    val rev = col("l_extendedprice").cast("decimal(18,4)") *
      (lit(1).cast("decimal(18,4)") - col("l_discount").cast("decimal(18,4)"))
    val l = lineitem.filter(col("l_shipdate") > lit(cut).cast("timestamp"))
      .select(col("l_orderkey"), rev.as("rev"))
    o.join(c, o("o_custkey") === c("c_custkey"))
      .join(l, col("o_orderkey") === col("l_orderkey"))
      .groupBy(col("l_orderkey"), col("o_orderdate"), col("o_orderpriority"))
      .agg(sum(col("rev")).cast("double").as("revenue"))
      .select(col("l_orderkey").as("orderkey"), col("revenue"),
        unix_timestamp(col("o_orderdate")).as("orderdate_epoch"), col("o_orderpriority"))
      .orderBy(col("revenue").desc, col("orderdate_epoch"), col("orderkey"))
      .limit(10)
  }

  /** Global 1-based row number over a TOTAL order, without the
    * single-partition `Window.orderBy` (whose "No Partition Defined ...
    * single partition" plan is billions of rows on ONE task at real
    * scale). Range-repartition on the sort key, take partition-local
    * positions from `monotonically_increasing_id` (pid << 33 | pos,
    * assigned in sorted order above the partition-local sort), and add
    * broadcast per-partition offsets computed from the SAME reused
    * range exchange. Emits the input columns plus `__rnk` (global row
    * number) and `__ntot` (total rows).
    *
    * Exactness: `sortCols` must be a KEY (total order, no ties), which
    * makes row_number == rank and the result bit-identical to
    * `row_number().over(Window.orderBy(sortCols))`. The offset frame is
    * at most `width` rows (one per range partition), windowed under an
    * explicit constant partition — bounded by the partition count, not
    * the data.
    */
  private[ext] def withGlobalRowNumber(
      df: DataFrame, sortCols: Seq[Column]): DataFrame = {
    val spark = df.sparkSession
    val conf = spark.sessionState.conf
    val wide = math.max(spark.sparkContext.defaultParallelism,
      conf.numShufflePartitions)
    // Scale-adaptive width (the pinWide stats-gate discipline): below
    // width x advisory bytes a single range partition is optimal AND
    // RangePartitioner(1) skips its sampling pass, so the small-volume
    // plan costs what the old single-partition window did; above the
    // threshold the sort spreads over `wide` range partitions. An
    // overestimate errs toward the scale-safe wide path.
    val advisory = conf.getConf(
      org.apache.spark.sql.internal.SQLConf.ADVISORY_PARTITION_SIZE_IN_BYTES)
    val width =
      if (df.queryExecution.optimizedPlan.stats.sizeInBytes <
        BigInt(wide) * advisory) 1
      else wide
    if (width == 1) {
      // Small-volume path: ONE kernel task ranks the sorted single
      // range partition and stamps the total — one job, no offsets
      // branch (the wide path's broadcast-offset machinery costs ~0.1s
      // of extra job waves per query, measured interleaved at sf0.1).
      // Buffers one partition, exactly like the WindowExec it replaces,
      // and RangePartitioner(1) needs no sampling pass.
      val sorted = df.repartitionByRange(1, sortCols: _*)
        .sortWithinPartitions(sortCols: _*)
      val outSchema = sorted.schema
        .add("__rnk", org.apache.spark.sql.types.LongType, nullable = false)
        .add("__ntot", org.apache.spark.sql.types.LongType, nullable = false)
      return sorted.mapPartitions { it =>
        val rows = it.toArray
        val n = rows.length.toLong
        rows.iterator.zipWithIndex.map { case (r, i) =>
          org.apache.spark.sql.Row.fromSeq(r.toSeq :+ (i + 1).toLong :+ n)
        }
      }(org.apache.spark.sql.Encoders.row(outSchema))
    }
    val ranged = df.repartitionByRange(width, sortCols: _*)
    // mono-id layout: partition id << 33 | in-partition position — both
    // branches below re-read the one reused range exchange, and the
    // partition-local sort on a total key is deterministic, so the ids
    // are stable across the two reads.
    val local = ranged.sortWithinPartitions(sortCols: _*)
      .withColumn("__mid", monotonically_increasing_id())
      .withColumn("__pid", shiftrightunsigned(col("__mid"), 33).cast("int"))
      .withColumn("__lrn", col("__mid").bitwiseAND(lit((1L << 33) - 1)) + lit(1L))
    val counts = ranged.groupBy(spark_partition_id().as("__pid"))
      .agg(count(lit(1)).as("__n"))
    // prefix-sum the per-partition counts in one kernel task — the
    // frame is <= `width` rows (bounded by the partition COUNT, not the
    // data), and a mapPartitions running sum avoids re-introducing the
    // unpartitioned-window shape this helper exists to remove
    import spark.implicits._
    val offs = counts.select(col("__pid").cast("int"), col("__n"))
      .as[(Int, Long)]
      .repartition(1)
      .mapPartitions { it =>
        val rows = it.toArray.sortInPlaceBy(_._1)
        val tot = { var s = 0L; rows.foreach(s += _._2); s }
        var acc = 0L
        rows.iterator.map { case (pid, n) =>
          val off = acc; acc += n; (pid, off, tot)
        }
      }.toDF("__pid", "__off", "__ntot")
    local.join(broadcast(offs), "__pid")
      .withColumn("__rnk", col("__lrn") + col("__off"))
      .drop("__mid", "__pid", "__lrn", "__off")
  }

  /** SQL-standard NTILE(k) over a global row number: with n rows, the
    * first n % k buckets get one extra row. Bit-identical to Spark's
    * `ntile(k).over(Window.orderBy(totalKey))` (ExtSpec pins the
    * equivalence across n % k boundaries); integer-only arithmetic.
    */
  private def ntileFromRank(rnk: Column, ntot: Column, k: Int): Column = {
    // all-LONG arithmetic: `div` is SQL integral division (Column./ is
    // true division and would detour through doubles)
    def idiv(a: Column, b: Column) = call_function("div", a, b)
    val q = idiv(ntot, lit(k.toLong)) // bucket floor size
    val r = ntot % k // buckets carrying one extra row
    when(rnk <= (q + 1) * r, idiv(rnk - 1, q + 1) + 1)
      .otherwise(r + idiv(rnk - (q + 1) * r - 1, greatest(q, lit(1L))) + 1)
  }

  /** Global INCLUSIVE running sum of `valueCol` over a TOTAL order,
    * without the single-partition `Window.orderBy` cumulative window
    * (billions of rows on ONE task at real scale). Same construction
    * discipline as [[withGlobalRowNumber]]: range-repartition on the
    * sort key, partition-local running sums from a per-partition
    * kernel over the partition-local sort, plus broadcast
    * per-partition sum offsets prefix-scanned under an explicit
    * constant partition (a frame bounded by the partition COUNT, not
    * the data). Emits the input columns plus `outCol` (inclusive
    * running sum) and `totCol` (grand total).
    *
    * Exactness: `sortCols` must be a KEY (total order, no ties) and
    * `valueCol` must be a non-null LONG or DECIMAL — exact associative
    * addition, so the partition split cannot change any prefix sum and
    * the result is bit-identical to
    * `sum(v).over(Window.orderBy(sortCols).rowsBetween(unboundedPreceding, currentRow))`.
    */
  private[ext] def withGlobalCumSum(
      df: DataFrame, sortCols: Seq[Column], valueCol: String,
      outCol: String, totCol: String): DataFrame = {
    val spark = df.sparkSession
    val conf = spark.sessionState.conf
    def legacyWindow: DataFrame = {
      val w = Window.orderBy(sortCols: _*)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      val wAll = Window.partitionBy().rowsBetween(Long.MinValue, Long.MaxValue)
      df.withColumn(outCol, sum(col(valueCol)).over(w))
        .withColumn(totCol, sum(col(valueCol)).over(wAll))
    }
    val wide = math.max(spark.sparkContext.defaultParallelism,
      conf.numShufflePartitions)
    val advisory = conf.getConf(
      org.apache.spark.sql.internal.SQLConf.ADVISORY_PARTITION_SIZE_IN_BYTES)
    val width =
      if (df.queryExecution.optimizedPlan.stats.sizeInBytes <
        BigInt(wide) * advisory) 1
      else wide
    // Small-volume path (stats-gated): the single-partition window IS
    // optimal below the gate, and unlike withGlobalRowNumber's packed
    // long rank, a cum-sum KERNEL here costs more than WindowExec — the
    // RowEncoder boundary plus the opaque post-kernel stats de-optimize
    // the consumers' joins (measured interleaved at sf0.1: q_spearman
    // 0.49 -> 0.65s, q_abc 0.53 -> 0.60s with the kernel small path;
    // window-below-the-gate is bench-neutral by construction). Above
    // the gate the range-partitioned wide path takes over — that is the
    // 100 TB shape.
    if (width == 1) return legacyWindow
    import org.apache.spark.sql.types.{DecimalType, LongType}
    val vType = df.schema(df.schema.fieldIndex(valueCol)).dataType
    // Spark's sum() result type, reproduced so both paths and the
    // legacy window agree on schema: decimal(p,s) -> decimal(min(38,
    // p+10), s); long -> long.
    val sumType = vType match {
      case d: DecimalType => DecimalType(math.min(38, d.precision + 10), d.scale)
      case LongType => LongType
      case other => throw new IllegalArgumentException(
        s"withGlobalCumSum: exact types only (long/decimal), got $other")
    }
    val sorted = df.repartitionByRange(width, sortCols: _*)
      .sortWithinPartitions(sortCols: _*)
    val vIdx = sorted.schema.fieldIndex(valueCol)
    val isDec = vType.isInstanceOf[DecimalType]
    def runningRows(it: Iterator[org.apache.spark.sql.Row])
        : Iterator[(org.apache.spark.sql.Row, Any)] = {
      var accL = 0L
      var accD = java.math.BigDecimal.ZERO
      it.map { r =>
        val cum: Any =
          if (isDec) { accD = accD.add(r.getDecimal(vIdx)); accD }
          else { accL += r.getLong(vIdx); accL }
        (r, cum)
      }
    }
    // wide path: partition-local running sums in a kernel (a window
    // partitioned on spark_partition_id would re-exchange the frame),
    // per-partition totals from the SAME reused range exchange,
    // prefix-scanned under an explicit constant partition (<= width
    // rows) and broadcast back.
    val localSchema = sorted.schema
      .add("__pid", org.apache.spark.sql.types.IntegerType, nullable = false)
      .add("__lcum", sumType, nullable = true)
    val local = sorted.mapPartitions { it =>
      val pid = org.apache.spark.TaskContext.getPartitionId()
      runningRows(it).map { case (r, cum) =>
        org.apache.spark.sql.Row.fromSeq(r.toSeq :+ pid :+ cum)
      }
    }(org.apache.spark.sql.Encoders.row(localSchema))
    val perPid = sorted.groupBy(spark_partition_id().as("__pid"))
      .agg(sum(col(valueCol)).as("__s"))
    val wOff = Window.partitionBy(lit(0)).orderBy(col("__pid"))
      .rowsBetween(Window.unboundedPreceding, -1)
    val wTot = Window.partitionBy(lit(0)).rowsBetween(Long.MinValue, Long.MaxValue)
    val zero = lit(0L).cast(sumType)
    val offs = perPid.select(col("__pid"),
      coalesce(sum(col("__s")).over(wOff), zero).cast(sumType).as("__off"),
      sum(col("__s")).over(wTot).cast(sumType).as(totCol))
    local.join(broadcast(offs), "__pid")
      .withColumn(outCol, (col("__lcum") + col("__off")).cast(sumType))
      .drop("__pid", "__lcum", "__off")
  }

  /** Customer lifetime-spend percentile ladder: percent_rank and decile
    * (ntile) of every customer by exact total spend. The ranking runs
    * over the per-customer AGGREGATE (|customers| rows after a
    * partial-first cents sum), not the order fact table; rank
    * arithmetic is (rank-1)/(N-1) on exact integers, so the grid is
    * engine-neutral without tolerance. Ties in spend break on the
    * customer key for a total order, and the rank itself comes from the
    * range-partitioned [[withGlobalRowNumber]] (the per-customer frame
    * scales with the data — a single-partition window sort here is the
    * classic 100 TB scale-killer).
    */
  def customerSpendPercentiles(orders: DataFrame): DataFrame = {
    import Num.trunc4
    Int128Sum.ensureRegistered(orders.sparkSession)
    val per = orders.groupBy(col("o_custkey"))
      .agg(Int128Sum.sumLong(round(col("o_totalprice") * 100d).cast("long"), 0).as("cents"))
    val ranked = withGlobalRowNumber(per, Seq(col("cents"), col("o_custkey")))
    ranked.select(col("o_custkey"),
        (col("cents").cast("double") / 100.0).as("total_spend"),
        // percent_rank == (row_number-1)/(n-1) under a total order;
        // single-row frame defined as 0.0, matching PercentRank
        trunc4(when(col("__ntot") === 1L, lit(0.0))
          .otherwise((col("__rnk") - 1L).cast("double") /
            (col("__ntot") - 1L).cast("double"))).as("pr4"),
        ntileFromRank(col("__rnk"), col("__ntot"), 10).cast("long").as("decile"))
      .orderBy(col("o_custkey"))
  }

  /** OLS linear trend of daily revenue: slope, intercept, and r^2 from
    * the closed-form moment solution. Every moment (n, Sx, Sy, Sxy,
    * Sxx, Syy) is an EXACT integer/decimal aggregate — day indices and
    * cents are integers, and the squared terms widen to decimal(38,0)
    * before summing so nothing overflows or rounds — which makes the
    * whole regression independent of partial-aggregation order. The
    * only float ops are the final closed-form divisions over exact
    * operands, identical in both engines. One partial-first aggregate
    * over the |days| frame; one output row.
    */
  def revenueTrendOls(orders: DataFrame): DataFrame = {
    import Num.trunc4
    Int128Sum.ensureRegistered(orders.sparkSession)
    val daily = orders
      .groupBy(to_date(col("o_orderdate")).as("day"))
      .agg(Int128Sum.sumLong(round(col("o_totalprice") * 100d).cast("long"), 0).as("cents"))
    val base = daily.agg(min(datediff(col("day"), lit("1970-01-01"))).as("base"))
    val m = daily.crossJoin(broadcast(base))
      .select((datediff(col("day"), lit("1970-01-01")) - col("base")).cast("long").as("x"),
        col("cents").as("y"))
      .agg(count(lit(1)).as("n"),
        sum(col("x")).cast("long").as("sx"),
        sum(col("y")).cast("long").as("sy"),
        sum(col("x").cast("decimal(38,0)") * col("y")).cast("double").as("sxy"),
        sum(col("x") * col("x")).cast("long").as("sxx"),
        sum(col("y").cast("decimal(38,0)") * col("y")).cast("double").as("syy"))
    val nD = col("n").cast("double")
    val sxD = col("sx").cast("double")
    val syD = col("sy").cast("double")
    val sxxD = col("sxx").cast("double")
    val cov = nD * col("sxy") - sxD * syD
    val varX = nD * sxxD - sxD * sxD
    val varY = nD * col("syy") - syD * syD
    val slope = cov / varX
    m.select(col("n").as("n_days"),
      trunc4(slope / 100.0).as("slope_per_day4"),
      trunc4((syD / nD - slope * (sxD / nD)) / 100.0).as("intercept4"),
      trunc4((cov * cov) / (varX * varY)).as("r2_4"))
  }

  /** Deterministic Poisson bootstrap CI for the mean daily revenue.
    * Classic multinomial resampling needs shared random state; the
    * Poisson(1) bootstrap (each unit's weight in resample b drawn
    * Poisson(1), standard at-scale approximation, public literature)
    * needs only an independent uniform per (unit, resample) — which we
    * make DETERMINISTIC with the repo's Knuth multiplicative hash:
    * u = ((day*131 + b) mod 2^31) * 2654435761 mod 2^32, mapped through
    * the Poisson(1) inverse CDF as fixed integer thresholds
    * (floor(cdf * 2^32) — exact integer compares, engine-neutral).
    * Resample means are exact cent-long ratios; the CI is the exact
    * percentile over the B resample means.
    *
    * Scale shape: resampling happens on the AGGREGATED daily frame
    * (B x |days| rows), never the fact table; weights are map-side
    * arithmetic, the per-resample reduction is partial-first on b.
    */
  def bootstrapMeanCI(
      orders: DataFrame, resamples: Int = 32,
      pLo: Double = 0.025, pHi: Double = 0.975): DataFrame = {
    import Num.trunc4
    Int128Sum.ensureRegistered(orders.sparkSession)
    // Poisson(1) CDF at k=0..5, scaled by 2^32 (k=6 tail gets the rest)
    val t = Seq(1580030168L, 3160060337L, 3950075421L,
      4213413783L, 4279248373L, 4292415291L)
    val daily = orders
      .groupBy(datediff(to_date(col("o_orderdate")), lit("1970-01-01"))
        .cast("long").as("day_num"))
      .agg(Int128Sum.sumLong(round(col("o_totalprice") * 100d).cast("long"), 0).as("cents"))
      .localCheckpoint(false) // resample grid + point estimate
    val u = pmod((pmod(col("day_num") * 131 + col("b"), lit(2147483648L))) *
      lit(2654435761L), lit(4294967296L))
    val w = when(u < t(0), 0L).when(u < t(1), 1L).when(u < t(2), 2L)
      .when(u < t(3), 3L).when(u < t(4), 4L).when(u < t(5), 5L).otherwise(6L)
    val means = daily
      .crossJoin(broadcast(orders.sparkSession.range(0, resamples).toDF("b")))
      .select(col("b"), (w * col("cents")).as("wc"), w.as("w"))
      .groupBy(col("b"))
      .agg(sum(col("wc")).cast("long").as("num"), sum(col("w")).cast("long").as("den"))
      .filter(col("den") > 0)
      .select((col("num").cast("double") / col("den").cast("double") / 100.0).as("m"))
    val point = daily.agg((sum(col("cents")).cast("long").cast("double") /
      count(lit(1)).cast("double") / 100.0).as("pm"))
    means.agg(count(lit(1)).as("n_resamples"),
        trunc4(expr(s"percentile(m, $pLo)")).as("ci_lo4"),
        trunc4(expr(s"percentile(m, $pHi)")).as("ci_hi4"))
      .crossJoin(broadcast(point))
      .select(col("n_resamples"), trunc4(col("pm")).as("point_mean4"),
        col("ci_lo4"), col("ci_hi4"))
  }

  /** Rolling 7-day exact median of daily revenue — the robust smoother
    * (a median filter tracks level shifts a trailing mean blurs). The
    * exact `percentile` runs as a window aggregate over the tiny
    * ROWS frame; like every daily-series query the window is over the
    * aggregated |days| frame, not the fact table.
    */
  def rollingMedianRevenue(orders: DataFrame, windowDays: Int = 7): DataFrame = {
    import Num.trunc4
    Int128Sum.ensureRegistered(orders.sparkSession)
    val daily = orders
      .groupBy(to_date(col("o_orderdate")).as("day"))
      .agg(Int128Sum.sumLong(round(col("o_totalprice") * 100d).cast("long"), 0).as("cents"))
    val w = Window.orderBy(col("day")).rowsBetween(-(windowDays - 1), 0)
    daily.select(col("day"),
        count(lit(1)).over(w).as("n_window"),
        trunc4(expr("percentile(cents, 0.5)").over(w) / 100.0).as("med4"))
      .orderBy(col("day"))
  }

  /** Per-brand price elasticity: log-log OLS slope of quantity on unit
    * price over lineitems. The ln inputs are snapped to the 1e-8 grid
    * AND kept as scaled LONGs, so every OLS moment is an exact integer
    * sum (snapping alone, then summing doubles, would still be a
    * partition-order-dependent fold); cross products widen to
    * DECIMAL(38,0) before summation. The ln itself is the one libm
    * call — a ≤1-ulp engine difference only survives if the value
    * lands within a ulp of a grid boundary (the documented trunc8
    * policy risk). The part dimension broadcasts; the aggregate is
    * partial-first per brand.
    */
  def priceElasticity(lineitem: DataFrame, part: DataFrame): DataFrame = {
    import Num.trunc4
    Int128Sum.ensureRegistered(lineitem.sparkSession)
    val x8 = floor(log(col("l_extendedprice").cast("double") /
      col("l_quantity").cast("double")) * lit(1e8)).cast("long")
    val y8 = floor(log(col("l_quantity").cast("double")) * lit(1e8)).cast("long")
    // Probe-side shape: project the three needed columns BEFORE the
    // broadcast join (§2.3 project-early), and spread the scan — the
    // whole join+ln+moment pipeline is map-side, so on a single-file
    // snapshot it otherwise runs on ONE task (measured sf0.1: 1.4s
    // single-task pipeline at local[32]). spread is a no-op once the
    // scan itself is wide.
    val m = graft.Tables.spread(
        lineitem.filter(col("l_quantity") > 0 && col("l_extendedprice") > 0)
          .select(col("l_partkey"), col("l_quantity"), col("l_extendedprice")))
      .join(broadcast(part.select(col("p_partkey"), col("p_brand"))),
        col("l_partkey") === col("p_partkey"))
      .select(col("p_brand"), x8.as("x8"), y8.as("y8"))
      .groupBy(col("p_brand"))
      // Moment cross-products stay in LONG per row and sum in the
      // codegen'd 128-bit accumulator — Spark's sum(decimal(38,0))
      // drops to the BigDecimal path per row. Per-row overflow bound:
      // money/quantity columns are decimal(12,2), so |x8|,|y8| <=
      // ln(1e10)*1e8 ~ 2.4e9 and every product <= ~5.5e18 < 2^63. The
      // SUM is where long overflows at scale, and that is exactly what
      // Int128Sum's 128-bit buffer absorbs. Values are identical:
      // exact integer sums either way, cast to double once per group.
      .agg(count(lit(1)).as("n"),
        sum(col("x8")).cast("long").as("sx8"),
        sum(col("y8")).cast("long").as("sy8"),
        Int128Sum.sumLong(col("x8") * col("y8"), 0).cast("double").as("sxy16"),
        Int128Sum.sumLong(col("x8") * col("x8"), 0).cast("double").as("sxx16"),
        Int128Sum.sumLong(col("y8") * col("y8"), 0).cast("double").as("syy16"))
    val nD = col("n").cast("double")
    val sx = col("sx8").cast("double") / lit(1e8)
    val sy = col("sy8").cast("double") / lit(1e8)
    val sxy = col("sxy16") / lit(1e16)
    val sxx = col("sxx16") / lit(1e16)
    val syy = col("syy16") / lit(1e16)
    val cov = nD * sxy - sx * sy
    val varX = nD * sxx - sx * sx
    val varY = nD * syy - sy * sy
    m.select(col("p_brand"), col("n").as("n_lines"),
      when(varX > 0, trunc4(cov / varX)).otherwise(lit(0.0)).as("elasticity4"),
      when(varX * varY > 0, trunc4(cov * cov / (varX * varY)))
        .otherwise(lit(0.0)).as("r2_4"))
      .orderBy(col("p_brand"))
  }

  /** Theil–Sen robust trend over daily revenue: the median of all
    * pairwise slopes (y_j - y_i)/(x_j - x_i), insensitive to up to 29%
    * outlier days where OLS breaks. The quadratic pair set is over the
    * DAILY frame — |days|^2/2 rows after the facts are already reduced
    * to one exact-cents row per day — so at 100 TB the pair join's
    * input is still only thousands of rows (a broadcast nested-loop on
    * the inequality, never a fact-table self-join). Every slope is one
    * IEEE divide of exact longs (bit-equal across engines); the median
    * is the declarative sort-based [[groupedExactPercentiles]] with
    * `percentile` / quantile_cont interpolation. Emits the p10/p90
    * slope band as the robust trend uncertainty.
    */
  def revenueTheilSen(orders: DataFrame): DataFrame = {
    import Num.trunc4
    val spark = orders.sparkSession
    Int128Sum.ensureRegistered(spark)
    val daily = orders
      .groupBy(to_date(col("o_orderdate")).as("day"))
      .agg(Int128Sum.sumLong(round(col("o_totalprice") * 100d).cast("long"), 0).as("cents"))
      .select(datediff(col("day"), lit("1970-01-01")).cast("long").as("x"),
        col("cents").as("y"))
    // Explicit width for the pair generation: after the daily aggregate
    // AQE coalesces the tiny |days|-row frame to ONE partition, which
    // would serialize the |days|^2/2 nested-loop pair stream AND the
    // percentile sort behind it onto a single core (measured 1.7s at
    // sf0.1 with 2.4k days -> 2.9M pairs). A user-specified repartition
    // is exempt from AQE coalescing, so each of the `parts` tasks
    // generates |days|/parts rows' worth of pairs against the broadcast
    // copy.
    val parts = daily.sparkSession.sparkContext.defaultParallelism
    val d2 = daily.select(col("x").as("x2"), col("y").as("y2"))
    val slopes = daily.repartition(parts).join(broadcast(d2), col("x2") > col("x"))
      .select(((col("y2") - col("y")).cast("double") /
        (col("x2") - col("x")).cast("double")).as("slope"))
    // Single-buffer percentiles on the pair frame: collect_list partials
    // merge per-partition (pair GENERATION stays parallel — the expensive
    // part), and only the final sort_array of the merged ~|days|^2/2
    // doubles is serial — bounded by the calendar (30 years ~ 60M pairs,
    // ~0.5 GB, seconds to sort). The multi-pass bucketed alternative
    // (groupedExactPercentiles) re-executes the nested-loop pair stream
    // once per pass — measured 4x WORSE (6.8s vs 1.7s at sf0.1) — so the
    // one-shot buffer is the right shape unless the series spans
    // centuries.
    val qs = exactPercentilesSmall(slopes,
      "slope", Seq(0.5, 0.1, 0.9), Seq("q50", "q10", "q90"))
    qs.select(col("n").as("n_pairs"),
      trunc4(col("q50") / 100.0).as("sen_slope4"),
      trunc4(col("q10") / 100.0).as("slope_p10_4"),
      trunc4(col("q90") / 100.0).as("slope_p90_4"))
  }

  /** Shared basket frame for the market-basket family: baskets as
    * sorted distinct-brand arrays of DENSE INTEGER CODES plus the
    * brand dictionary that decodes them. Building this once and
    * handing it to both [[brandTriples]] and [[basketRules]] (the
    * query layer memoizes the localCheckpointed pair per (session,
    * dataset) — a materialized view) removes the lineitem-join-part +
    * groupBy(order) pipeline from every individual basket query.
    *
    * Plan shape, in order:
    *  - the brand DICTIONARY is |distinct brands| rows (an enum-like
    *    dimension by data contract — TPC-H has 25), dense-coded by a
    *    1-partition window over the sorted distinct set; codes are
    *    assigned in brand sort order, so CODE order == LEXICOGRAPHIC
    *    brand order and downstream sorts/combination generation can
    *    stay integer end-to-end;
    *  - part joins the broadcast dictionary (genuinely tiny — this
    *    broadcast is principled at any scale, unlike broadcasting the
    *    full part table, which grows with SF; the lineitem-part join
    *    itself is left to the planner/AQE to broadcast or shuffle on
    *    measured size);
    *  - ONE groupBy(order) shuffle builds the distinct code sets
    *    (collect_set dedupes map-side), capped at `maxBasket` — the
    *    explicit d-squared skew guard that bounds the downstream
    *    combination explosion per row (a degenerate mega-basket
    *    otherwise contributes C(n,2)/C(n,3) rows — the same skew bomb
    *    as a hot shingle).
    * Pair/triple generation then happens MAP-SIDE with codegen'd array
    * HOFs over INT arrays — each combination is ONE packed int (10
    * bits per code), so the explosion's shuffle payload and aggregate
    * keys are fixed-width integers instead of 2-3 string pointers —
    * instead of 2-3-way self-joins on the order key (an extra shuffle
    * + sort each, rebuilding every basket s^2/s^3 times).
    */
  def brandBasketFrame(lineitem: DataFrame, part: DataFrame,
      maxBasket: Int = 15): (DataFrame, DataFrame) = {
    require(maxBasket >= 1 && maxBasket < 1024,
      s"maxBasket=$maxBasket out of [1, 1023]")
    val dim = part.select(col("p_brand").as("brand")).distinct()
      .withColumn("code",
        (row_number().over(Window.orderBy(col("brand"))) - 1).cast("int"))
    val baskets = lineitem.select(col("l_orderkey").as("o"), col("l_partkey"))
      .join(part.select(col("p_partkey").as("l_partkey"), col("p_brand").as("brand")),
        "l_partkey")
      .join(broadcast(dim), "brand")
      .groupBy(col("o"))
      .agg(sort_array(collect_set(col("code"))).as("bs"))
      .filter(size(col("bs")) <= maxBasket)
    (baskets, dim)
  }

  /** Packed i<j pair (order=2) / i<j<k triple (order=3) combinations of
    * each basket's sorted INT-code array, one output row per combo.
    * Pairs pack as ((a+1) << 10) | (b+1) — the +1 keeps every pair key
    * above the 0..1023 single-code range so pairs, singles, and a -1
    * marker can share one aggregate key space; triples pack as
    * (a*1024+b)*1024+c. Codes are dictionary-dense (< 1024, enforced by
    * [[brandBasketFrame]]).
    *
    * A typed mapPartitions kernel, NOT nested transform/flatten/slice:
    * higher-order array functions are CodegenFallback, so the
    * declarative shape paid an interpreted lambda frame plus
    * intermediate array allocations per element across the
    * combinatorial fan-out — the dominant cost of both basket queries
    * (q_brand_triples 1.33s / q_basket_rules ~1.0s vs 0.71/0.33
    * oracle). The kernel writes primitive ints straight out.
    */
  private def packedCombos(baskets: DataFrame, order: Int): DataFrame = {
    require(order == 2 || order == 3, s"order=$order")
    val spark = baskets.sparkSession
    import spark.implicits._
    // Kernel-side contract check: the Int combo-count arithmetic and the
    // 10-bit packing are only safe because brandBasketFrame caps basket
    // size < 1024; a null or over-long array reaching this kernel from a
    // new call site would otherwise surface as a NegativeArraySizeException
    // (or silent key collisions) with no hint of the cause.
    def checked(bs: Array[Int]): Array[Int] = {
      require(bs != null, "packedCombos: null basket array")
      require(bs.length < 1024,
        s"packedCombos: basket size ${bs.length} breaks the 10-bit code packing (cap baskets < 1024 upstream)")
      // Key collisions come from code VALUES, not basket length: pairs
      // pack (code+1) into 10 bits, so the dictionary must stay <= 1023
      // codes (0..1022). Scan for the max rather than trusting sort
      // order — brandBasketFrame emits sort_array output, but a new
      // call site with an unsorted basket must not evade the check
      // (the basket is < 1024 ints; the scan is noise next to the
      // combinatorial emit below). Catches a >1023-brand corpus that
      // the basket-size cap cannot see.
      var mx = -1; var ci = 0
      while (ci < bs.length) { if (bs(ci) > mx) mx = bs(ci); ci += 1 }
      require(mx <= 1022,
        s"packedCombos: brand code $mx breaks the 10-bit packing (dictionary must have <= 1023 codes)")
      bs
    }
    val ds = baskets.select(col("bs")).as[Array[Int]]
    val combos =
      if (order == 2) ds.mapPartitions { it =>
        it.flatMap { bs0 =>
          val bs = checked(bs0)
          val n = bs.length
          val out = new Array[Int](n * (n - 1) / 2)
          var m = 0; var i = 0
          while (i < n - 1) {
            val a = (bs(i) + 1) * 1024 + 1
            var j = i + 1
            while (j < n) { out(m) = a + bs(j); m += 1; j += 1 }
            i += 1
          }
          out.iterator
        }
      } else ds.mapPartitions { it =>
        it.flatMap { bs0 =>
          val bs = checked(bs0)
          val n = bs.length
          val out = new Array[Int](n * (n - 1) * (n - 2) / 6)
          var m = 0; var i = 0
          while (i < n - 2) {
            val a = bs(i) * 1024
            var j = i + 1
            while (j < n - 1) {
              val ab = (a + bs(j)) * 1024
              var k = j + 1
              while (k < n) { out(m) = ab + bs(k); m += 1; k += 1 }
              j += 1
            }
            i += 1
          }
          out.iterator
        }
      }
    combos.toDF("t")
  }

  /** Frequent brand TRIPLES by basket support — the order-3 extension
    * of pairwise affinity (pairs miss "A and B only sell together when
    * C is present" bundle structure). Consumes the shared
    * [[brandBasketFrame]]; i<j<k combinations explode map-side as ONE
    * packed int each ((a*1024+b)*1024+c), a partial-first support
    * count + min-support filter collapse them to <= C(|brands|,3)
    * rows, and only those decode back to brand strings through the
    * broadcast dictionary before the top-k TakeOrdered.
    *
    * Support-based candidate pruning (exact by anti-monotonicity for
    * the count-then-filter contract: support(triple) <= support(any
    * member brand)) drops sub-support brands from the baskets BEFORE
    * the cubic generation, so a long-tail brand dictionary never pays
    * the explosion for brands that cannot reach minSupport.
    */
  def brandTriples(baskets: DataFrame, dim: DataFrame,
      minSupport: Long = 5, k: Int = 25): DataFrame = {
    val pruned = pruneBelowSupport(baskets, minSupport)
      .filter(size(col("bs")) >= 3)
    val counted = packedCombos(pruned, 3)
      .groupBy(col("t"))
      .agg(count(lit(1)).as("n_orders"))
      .filter(col("n_orders") >= minSupport)
      .select((col("t") / lit(1048576)).cast("int").as("ca"),
        ((col("t") / lit(1024)).cast("int") % 1024).as("cb"),
        (col("t") % 1024).cast("int").as("cc"),
        col("n_orders"))
    counted
      .join(broadcast(dim.select(col("code").as("ca"), col("brand").as("brand_a"))), "ca")
      .join(broadcast(dim.select(col("code").as("cb"), col("brand").as("brand_b"))), "cb")
      .join(broadcast(dim.select(col("code").as("cc"), col("brand").as("brand_c"))), "cc")
      .select(col("brand_a"), col("brand_b"), col("brand_c"), col("n_orders"))
      .orderBy(col("n_orders").desc, col("brand_a"), col("brand_b"), col("brand_c"))
      .limit(k)
  }

  /** Remove brands whose BASKET support is below minSupport from every
    * basket before combination generation — exact for any
    * count-then-filter consumer by anti-monotonicity. The frequent set
    * is computed relationally off the (materialized) basket frame and
    * folded to ONE array row (bounded by the brand dictionary — an
    * enum by contract), cross-joined broadcast; array_intersect keeps
    * the first argument's sort order, so baskets stay sorted.
    */
  private def pruneBelowSupport(baskets: DataFrame, minSupport: Long): DataFrame = {
    val freq = baskets.select(explode(col("bs")).as("code"))
      .groupBy(col("code")).agg(count(lit(1)).as("n"))
      .filter(col("n") >= minSupport)
      .agg(sort_array(collect_list(col("code"))).as("freq"))
    // spread: the combination kernels downstream are map-side against
    // the broadcast frequent set, so their parallelism is the basket
    // SCAN's — with the basket artifact compacted to data-sized files
    // (not builder-task-sized), the width must come from here, not
    // from whatever file count the writer happened to leave
    graft.Tables.spread(baskets).crossJoin(broadcast(freq))
      .select(col("o"), array_intersect(col("bs"), col("freq")).as("bs"))
      .filter(size(col("bs")) >= 1)
  }

  /** Association rules over brand PAIRS: support, directional
    * confidence, and lift — the classic market-basket read
    * ([[brandTriples]] is the order-3 structure; this is the
    * decision-grade order-2 table with the probabilistic columns).
    * Consumes the shared [[brandBasketFrame]]. N / per-brand counts
    * come straight off the materialized frame (one cheap explode — the
    * frame is checkpointed, so re-traversal costs no basket rebuild);
    * pair counts explode the SUPPORT-PRUNED baskets as one packed int
    * per pair into a partial-first aggregate. All counts are exact
    * integers; the two confidences + lift divide them as doubles only
    * in the final <= C(|brands|,2)-row projection (trunc4). Top-k by
    * lift via TakeOrdered.
    *
    * Denominator contract: n_baskets and per-brand counts are over the
    * UNPRUNED frame (support is relative to all baskets); pruning only
    * skips generating pairs that cannot pass minSupport, which is
    * exact because n_ab <= min(n_a, n_b).
    */
  def basketRules(baskets: DataFrame, dim: DataFrame,
      minSupport: Long = 20, k: Int = 25): DataFrame = {
    import Num.trunc4
    val nBaskets = baskets.agg(count(lit(1)).cast("long").as("n_baskets"))
    val singles = baskets.select(explode(col("bs")).as("code"))
      .groupBy(col("code")).agg(count(lit(1)).cast("long").as("n_single"))
    val pairs = packedCombos(
        pruneBelowSupport(baskets, minSupport).filter(size(col("bs")) >= 2), 2)
      .select(col("t").as("p"))
      .groupBy(col("p"))
      .agg(count(lit(1)).cast("long").as("n_ab"))
      .filter(col("n_ab") >= minSupport)
      .select(((col("p") / lit(1024)).cast("int") - 1).as("ca"),
        ((col("p") % 1024).cast("int") - 1).as("cb"), col("n_ab"))
    pairs
      .join(broadcast(singles.select(col("code").as("ca"), col("n_single").as("n_a"))), "ca")
      .join(broadcast(singles.select(col("code").as("cb"), col("n_single").as("n_b"))), "cb")
      .join(broadcast(dim.select(col("code").as("ca"), col("brand").as("brand_a"))), "ca")
      .join(broadcast(dim.select(col("code").as("cb"), col("brand").as("brand_b"))), "cb")
      .crossJoin(broadcast(nBaskets))
      .select(col("brand_a"), col("brand_b"), col("n_ab"), col("n_a"), col("n_b"),
        trunc4(col("n_ab").cast("double") / col("n_a").cast("double")).as("conf_ab4"),
        trunc4(col("n_ab").cast("double") / col("n_b").cast("double")).as("conf_ba4"),
        trunc4(col("n_ab").cast("double") * col("n_baskets").cast("double") /
          (col("n_a").cast("double") * col("n_b").cast("double"))).as("lift4"))
      .orderBy(col("lift4").desc, col("brand_a"), col("brand_b"))
      .limit(k)
  }

  /** (part, month) unit-price frame shared by the index families:
    * one partial-first aggregate; up6 is LONG floor-division — no
    * doubles anywhere.
    */
  private def partMonthPrices(lineitem: DataFrame): DataFrame =
    lineitem
      .groupBy(col("l_partkey").as("part"),
        to_date(date_trunc("month", col("l_shipdate"))).as("month"))
      .agg(sum(round(col("l_extendedprice") * 100d).cast("long")).cast("long").as("cents"),
        sum(col("l_quantity").cast("long")).cast("long").as("qty"))
      .withColumn("up6", expr("(cents * 1000000L) div qty"))

  /** BASE-month basket (per-part quantity + unit price), sliced out of
    * the CACHED (part,month) frame rather than re-scanned off lineitem:
    * pm's per-(part,month) cents/qty for the base month are the same
    * integer sums the direct filtered scan would produce, so the slice
    * is bit-identical — and with pm `persist()`ed the whole index query
    * costs ONE fact-table scan (the earlier shape scanned lineitem
    * three times: the (part,month) aggregate, the min-month pass, and
    * the filtered base re-aggregation — measured ~1.0-1.2s vs DuckDB's
    * 0.16s at sf0.1, almost all of it repeated scan+agg). `qb`/`ub6`
    * reuse pm's exact `qty`/`up6` for the base slice.
    */
  private def baseMonthBasket(pm: DataFrame): DataFrame = {
    val bm = pm.agg(min(col("month")).as("bm"))
    pm.crossJoin(broadcast(bm))
      .filter(col("month") === col("bm"))
      .select(col("part"), col("qty").as("qb"), col("up6").as("ub6"))
  }

  /** Laspeyres monthly price index over lineitem: how much does the
    * BASE month's basket cost in month m, relative to what it cost in
    * the base month — the inflation read that separates price movement
    * from mix shift (a plain avg-price series confounds the two when
    * cheap parts gain share). Matched-sample: each month prices only
    * the parts it shares with the base basket.
    *
    * Exactness: unit prices are integer-scaled with LONG floor-division
    * ((cents * 1e6) div qty — no doubles), basket terms are summed as
    * decimal(38) so a 100 TB month cannot overflow, and the single
    * final divide of two exact integers is engine-neutral.
    * Scale shape: [[partMonthPrices]] (one partial-first aggregate,
    * persisted — |parts|x|months| rows, orders of magnitude below the
    * fact table), [[baseMonthBasket]] sliced off that cache, a join on
    * part, and a months-sized output frame. One fact-table scan total.
    */
  def priceIndexLaspeyres(lineitem: DataFrame): DataFrame = {
    import Num.trunc4
    // persist outlives this call (the returned lazy plan reads it
    // twice); Bench/Verify drop it between queries, library callers own
    // session cache hygiene (spark.catalog.clearCache or unpersist-all)
    val pm = partMonthPrices(lineitem).persist()
    val baseQ = baseMonthBasket(pm)
    // SHUFFLE_HASH, build = base basket: the static planner's cached-
    // relation estimate otherwise broadcasts the full (part,month)
    // frame — measured sf0.1: a 33 MB / 503k-row broadcast collect per
    // rep. The base slice is ~1/|months| of pm and partitioned-hash is
    // safe at any part-dimension scale where a broadcast is not.
    pm.join(baseQ.hint("SHUFFLE_HASH"), "part")
      .groupBy(col("month"))
      .agg(count(lit(1)).as("n_parts"),
        sum(col("qb").cast("decimal(19,0)") * col("up6").cast("decimal(19,0)")).as("num"),
        sum(col("qb").cast("decimal(19,0)") * col("ub6").cast("decimal(19,0)")).as("den"))
      .select(col("month"), col("n_parts"),
        trunc4(col("num").cast("double") / col("den").cast("double")).as("index4"))
      .orderBy(col("month"))
  }

  /** Wald–Wolfowitz runs test on the direction of daily revenue: are
    * up/down days randomly interleaved, or do they clump (momentum) or
    * alternate (mean reversion)? The sign sequence +/- (zero-change
    * days dropped) is reduced to R = number of maximal runs; under
    * independence R is approximately normal with mu = 2ab/(a+b) + 1
    * and Var = 2ab(2ab-a-b) / ((a+b)^2 (a+b-1)) for a up-days and b
    * down-days. R, a, b and both Var products stay exact integers
    * (bounded by |days|^2 * |days| — far inside long range); only the
    * final mu/z touch doubles, via single engine-neutral IEEE ops
    * (sqrt is correctly-rounded by IEEE 754, unlike libm ln/exp).
    * Complements [[revenueMannKendall]]: MK detects monotone TREND,
    * the runs test detects serial DEPENDENCE without any trend.
    */
  def revenueRunsTest(orders: DataFrame): DataFrame = {
    import Num.trunc4
    Int128Sum.ensureRegistered(orders.sparkSession)
    val daily = orders
      .groupBy(to_date(col("o_orderdate")).as("day"))
      .agg(Int128Sum.sumLong(round(col("o_totalprice") * 100d).cast("long"), 0).as("cents"))
    val w = Window.orderBy(col("day"))
    val sgn = daily
      .withColumn("diff", col("cents") - lag(col("cents"), 1).over(w))
      .filter(col("diff").isNotNull && col("diff") =!= 0L)
      .select(col("day"), when(col("diff") > 0, 1).otherwise(-1).as("s"))
    // run boundaries: sign differs from predecessor (first row counts as one)
    val runs = sgn
      .withColumn("prev", lag(col("s"), 1).over(Window.orderBy(col("day"))))
      .agg(
        sum(when(col("s") === 1, 1L).otherwise(0L)).cast("long").as("a"),
        sum(when(col("s") === -1, 1L).otherwise(0L)).cast("long").as("b"),
        (sum(when(col("prev").isNull || col("prev") =!= col("s"), 1L)
          .otherwise(0L))).cast("long").as("r"))
    val aD = col("a").cast("double"); val bD = col("b").cast("double")
    val n = col("a") + col("b")
    val mu = lit(2.0) * aD * bD / n.cast("double") + lit(1.0)
    val varNum = (lit(2L) * col("a") * col("b")) *
      (lit(2L) * col("a") * col("b") - col("a") - col("b"))
    val varDen = n * n * (n - 1)
    val v = varNum.cast("double") / varDen.cast("double")
    runs.select(col("a").as("n_up"), col("b").as("n_down"), col("r").as("n_runs"),
      trunc4(mu).as("mu4"),
      trunc4((col("r").cast("double") - mu) / sqrt(v)).as("z4"))
  }

  /** Local-maximum peak detection over daily revenue: days strictly
    * above BOTH neighbors, ranked by prominence = cents / max(neighbor
    * cents) — the cheap seasonal-spike finder (payday, launch day)
    * that q_anomaly_days' global z-score misses when the spike is
    * local, not global. All comparisons and the ratio numerator/
    * denominator are exact integer cents; one IEEE divide per peak.
    * The neighbor window is per-row state over the daily frame.
    */
  def revenuePeaks(orders: DataFrame, minRatio: Double = 1.2): DataFrame = {
    import Num.trunc4
    Int128Sum.ensureRegistered(orders.sparkSession)
    val daily = orders
      .groupBy(to_date(col("o_orderdate")).as("day"))
      .agg(Int128Sum.sumLong(round(col("o_totalprice") * 100d).cast("long"), 0).as("cents"))
    val w = Window.orderBy(col("day"))
    daily
      .withColumn("prev", lag(col("cents"), 1).over(w))
      .withColumn("nxt", lead(col("cents"), 1).over(w))
      .filter(col("prev").isNotNull && col("nxt").isNotNull &&
        col("cents") > col("prev") && col("cents") > col("nxt"))
      .withColumn("ratio4", trunc4(col("cents").cast("double") /
        greatest(col("prev"), col("nxt")).cast("double")))
      .filter(col("ratio4") >= minRatio)
      .select(col("day"), (col("cents").cast("double") / 100.0).as("revenue"),
        col("ratio4"))
      .orderBy(col("day"))
  }

  /** Exact interpolated percentiles PER GROUP as a fully DECLARATIVE
    * plan (bit-equal to SQL `percentile` / DuckDB quantile_cont — see
    * the interpolation note below). The built-in `percentile` aggregate
    * buffers every value in per-partition hash maps and merges those
    * maps through the shuffle — ~2s on a 2.4M-row fact table with 3
    * groups, memory-unbounded at scale. A naive window
    * (`row_number over (partition by group order by v)`) is exact but
    * serializes each GROUP into one task.
    *
    * This shape is the scalable one — bucket, count, then sort ONLY the
    * buckets that contain a requested boundary index:
    *  1. rows bin by the codegen'd order-preserving bit image
    *     ([[graft.ext.expr.DoubleOrderBits]] >> `shift`) — a DATA-
    *     INDEPENDENT monotone bin id, so there is no min/max stats
    *     pass and no broadcast join at all (bin balance affects only
    *     load, never the answer); the per-(group,bucket) count frame —
    *     |groups| x occupied-buckets rows — turns into exclusive
    *     prefix offsets via a window over that TINY frame;
    *  2. each requested percentile needs the values at global index
    *     floor/ceil(p*(n-1)); from the offsets alone the plan knows
    *     which buckets hold those indices, LEFT SEMI joins the data
    *     down to just them (~ |ps| * n/buckets rows), ranks them with
    *     a window per (group,bucket), and a per-group aggregate keeps
    *     the two boundary rows per percentile.
    * Shuffle volume past the count pass is n * |targets| / buckets,
    * not n. Degenerate worst case (all values equal -> one bucket) is
    * still correct, just shuffles that bucket whole. No eager action,
    * no driver collect; composes lazily.
    *
    * `shift` trades bucket-census size against prune sharpness: 44
    * keeps sign+exponent+12 mantissa bits — ~4096 cells per binade,
    * a few thousand OCCUPIED cells for data spanning a handful of
    * binades (the census window stays tiny), each holding ~n/4096 of
    * a binade's rows for the final sort.
    *
    * Output: groupCol, `n` (group row count), then one column per
    * requested percentile named by `outNames`.
    */
  def groupedExactPercentiles(
      df: DataFrame,
      valueCol: String,
      groupCol: String,
      ps: Seq[Double],
      outNames: Seq[String],
      shift: Int = 44): DataFrame = {
    require(ps.nonEmpty && ps.length == outNames.length, "ps/outNames mismatch")
    require(shift >= 0 && shift < 64, s"shift=$shift")
    DoubleOrderBits.ensureRegistered(df.sparkSession)
    val bucketed = df
      // + 0.0 folds -0.0 into +0.0 (identity elsewhere) so a boundary
      // value never surfaces with a raw sign bit an oracle would print
      // differently — see weightedMedian for the full note
      .select(col(groupCol), (col(valueCol).cast("double") + lit(0.0)).as("__v"))
      .where(col("__v").isNotNull)
      .withColumn("__b",
        shiftright(call_function(DoubleOrderBits.name, col("__v")), shift))
    val counts = bucketed.groupBy(col(groupCol), col("__b"))
      .agg(count(lit(1)).as("__c"))
    val wOff = Window.partitionBy(col(groupCol)).orderBy(col("__b"))
      .rowsBetween(Window.unboundedPreceding, -1)
    val wAll = Window.partitionBy(col(groupCol))
    val offsets = counts.select(col(groupCol), col("__b"), col("__c"),
      coalesce(sum(col("__c")).over(wOff), lit(0L)).cast("long").as("__off"),
      sum(col("__c")).over(wAll).cast("long").as("__n"))
    // bucket is needed iff it contains floor or ceil of some target pos
    val needed = ps.map { p =>
      val pos = lit(p) * (col("__n") - 1).cast("double")
      val loI = floor(pos).cast("long"); val hiI = ceil(pos).cast("long")
      (col("__off") <= loI && loI < col("__off") + col("__c")) ||
        (col("__off") <= hiI && hiI < col("__off") + col("__c"))
    }.reduce(_ || _)
    val targets = offsets.filter(needed)
      .select(col(groupCol), col("__b"), col("__off"), col("__n"))
    val wB = Window.partitionBy(col(groupCol), col("__b")).orderBy(col("__v"))
    val ranked = bucketed.select(col(groupCol), col("__b"), col("__v"))
      .join(broadcast(targets), Seq(groupCol, "__b"))
      .withColumn("__i", col("__off") + (row_number().over(wB) - 1).cast("long"))
    // pos/floor/ceil are per-row expressions but constant within a group
    // (they depend only on __n); the agg keeps the two boundary rows.
    val aggs = ps.zip(outNames).flatMap { case (p, name) =>
      val pos = lit(p) * (col("__n") - 1).cast("double")
      Seq(
        max(when(col("__i") === floor(pos).cast("long"), col("__v"))).as(s"__lo_$name"),
        max(when(col("__i") === ceil(pos).cast("long"), col("__v"))).as(s"__hi_$name"))
    }
    val agged = ranked.groupBy(col(groupCol))
      .agg(first(col("__n")).as("n"), aggs: _*)
    val outs = ps.zip(outNames).map { case (p, name) =>
      val pos = lit(p) * (col("n") - 1).cast("double")
      // weighted two-sided form, NOT lo + frac*(hi-lo): both Spark's
      // builtin Percentile and DuckDB's quantile_cont evaluate
      // lo*(ceil(pos)-pos) + hi*(pos-floor(pos)), which differs from the
      // one-sided form by an ulp — enough to flip a trunc4 grid cell.
      val lo = col(s"__lo_$name"); val hi = col(s"__hi_$name")
      when(floor(pos) === ceil(pos), lo)
        .otherwise(lo * (ceil(pos) - pos) + hi * (pos - floor(pos)))
        .as(name)
    }
    agged.select(col(groupCol) +: col("n") +: outs: _*)
  }

  /** Exact interpolated percentiles over a BOUNDED intermediate frame:
    * each partition packs its values into a PRIMITIVE double array
    * (`mapPartitions` — value generation stays parallel), the packed
    * arrays concatenate on one final task, and a single
    * `java.util.Arrays.sort` of primitives picks the boundary ranks.
    * The whole frame lands on ONE task, so this is ONLY for frames
    * with a known structural bound — e.g. Theil–Sen's pair set,
    * O(|days|^2) of an already-aggregated daily series (~60M values
    * for 30 years ~ 500 MB worst case), never a fact table. For
    * unbounded inputs use [[groupedExactPercentiles]] (parallel
    * bounded sorts) instead.
    *
    * This replaced a declarative `sort_array(collect_list(v))` of the
    * same bound: collect_list BOXES every double (≥3x the footprint as
    * object graph, ~n allocations to merge and again to sort), and the
    * resulting GC churn made the one merge task the suite's most
    * load-sensitive stretch (q_theil_sen loaded reps 1.3-7.4s vs 0.6s
    * quiesced at 2.9M pairs). Primitive pack+sort does the same work
    * in ~n*8 bytes flat with near-zero garbage. Interpolation is the
    * same weighted two-sided form as `percentile` / quantile_cont.
    *
    * Output: one row — `n`, then one column per percentile.
    */
  def exactPercentilesSmall(
      df: DataFrame,
      valueCol: String,
      ps: Seq[Double],
      outNames: Seq[String]): DataFrame = {
    require(ps.nonEmpty && ps.length == outNames.length, "ps/outNames mismatch")
    val spark = df.sparkSession
    import spark.implicits._
    val psArr = ps.toArray
    val packed: Dataset[Array[Double]] = df
      .select(col(valueCol).cast("double").as("__v"))
      .where(col("__v").isNotNull)
      .as[Double]
      .mapPartitions { it =>
        val b = new scala.collection.mutable.ArrayBuilder.ofDouble
        while (it.hasNext) b += it.next()
        val a = b.result()
        if (a.isEmpty) Iterator.empty else Iterator.single(a)
      }
    // repartition(1), NOT coalesce(1): coalesce collapses the UPSTREAM
    // stages (pair generation, packing) onto the single merge task —
    // measured 1.4-2.3s vs 0.6s for q_theil_sen — while repartition
    // inserts a shuffle barrier, so packing stays parallel and only the
    // compact packed arrays (~n*8 bytes total) move to the merge task
    val qrow: DataFrame = packed.repartition(1).mapPartitions { arrs0 =>
      val arrs = arrs0.toArray
      val n = arrs.iterator.map(_.length.toLong).sum
      require(n <= Int.MaxValue - 8,
        s"exactPercentilesSmall: n=$n exceeds the single-task bound")
      val qs =
        if (n == 0L) Array.fill(psArr.length)(Double.NaN)
        else {
          val all = new Array[Double](n.toInt)
          var off = 0
          arrs.foreach { a =>
            System.arraycopy(a, 0, all, off, a.length); off += a.length
          }
          java.util.Arrays.sort(all)
          psArr.map { p =>
            val pos = p * (n - 1).toDouble
            val lo = all(math.floor(pos).toInt)
            val hi = all(math.ceil(pos).toInt)
            if (math.floor(pos) == math.ceil(pos)) lo
            else lo * (math.ceil(pos) - pos) + hi * (pos - math.floor(pos))
          }
        }
      Iterator.single((n, qs))
    }.toDF("n", "__qs")
    val outs = ps.indices.zip(outNames).map { case (i, name) =>
      element_at(col("__qs"), i + 1).as(name)
    }
    qrow.select(col("n") +: outs: _*)
  }

  /** Weighted (lower) median per group: the smallest value whose
    * cumulative weight reaches half the group's total — the
    * quantity-weighted price statistic a mean confounds when line
    * sizes vary. No interpolation (the LOWER weighted median), so with
    * integral weights the whole computation is integer compares —
    * bit-stable across engines with no grid-snapping needed.
    *
    * Scale shape mirrors [[groupedExactPercentiles]] — bucket, count,
    * then sort ONLY the bucket holding the answer. (The obvious
    * alternative, a cumulative-weight window `partitionBy(group)
    * .orderBy(v)`, serializes each GROUP into one task — with few
    * groups that is a 3-thread sort of the whole frame.)
    *  1. RAW rows bin by the codegen'd order-preserving bit image
    *     ([[graft.ext.expr.DoubleOrderBits]] >> `shift` — data-
    *     independent, so no min/max stats pass; bin quality affects
    *     only load balance, never the answer) — and no distinct-
    *     collapse pass either: with near-unique values that collapse
    *     is a full-size shuffle for no reduction, while the
    *     per-(group,bucket) WEIGHT frame here aggregates map-side to
    *     |groups| x occupied-buckets rows;
    *  2. a window over that tiny frame yields exclusive prefix weights
    *     and the group totals;
    *  3. the single bucket per group whose prefix straddles totw/2 is
    *     broadcast back; only its ~n/buckets raw rows sort (window per
    *     (group,bucket)), and the min-filter keeps the answer row.
    *     Tie rows (equal v) may order arbitrarily inside the window,
    *     but the half-total crossing provably lands inside the answer
    *     value's tie group, so min(v) is tie-order-independent.
    * All weight compares stay integer (2*cumw >= totw), so the result
    * is bit-identical to a full ordered scan at any partition count.
    *
    * Contract: weights must be NON-NEGATIVE (a negative weight makes
    * the cumulative prefix non-monotone and the answer undefined — as
    * it did in any ordered-scan formulation). A group whose weights
    * sum to zero returns (total_weight 0, w_median = group min), the
    * degenerate reading of "smallest value reaching half of nothing".
    */
  def weightedMedian(
      df: DataFrame,
      valueCol: String,
      weightCol: String,
      groupCol: String,
      shift: Int = 44): DataFrame =
    weightedQuantile(df, valueCol, weightCol, groupCol, 1L, 2L, shift)
      .withColumnRenamed("w_quantile", "w_median")

  /** Lower weighted quantile per group for an EXACT rational p =
    * pNum/pDen: the smallest value whose cumulative weight reaches
    * p * total — the general form of [[weightedMedian]] (p = 1/2),
    * same bucket-prune plan, same integer-only compares
    * (`cumw * pDen >= pNum * totw` — pick pNum/pDen small enough that
    * pNum * totalWeight stays inside a long; p90 over quantities is
    * 9/10, not 9000000000/10000000000).
    */
  def weightedQuantile(
      df: DataFrame,
      valueCol: String,
      weightCol: String,
      groupCol: String,
      pNum: Long,
      pDen: Long,
      shift: Int = 44): DataFrame = {
    require(shift >= 0 && shift < 64, s"shift=$shift")
    require(pDen > 0 && pNum > 0 && pNum <= pDen, s"p=$pNum/$pDen out of (0,1]")
    DoubleOrderBits.ensureRegistered(df.sparkSession)
    val bucketed = df
      // + 0.0 normalizes -0.0 to +0.0 (identity on every other value,
      // incl. NaN/inf): the bit image would otherwise split the
      // -0.0/+0.0 tie group across buckets and min(v) could surface
      // the raw sign bit where a grouped formulation (and an oracle)
      // prints 0.0
      .select(col(groupCol), (col(valueCol).cast("double") + lit(0.0)).as("v"),
        col(weightCol).cast("long").as("w"))
      .where(col("v").isNotNull)
      .withColumn("__b",
        shiftright(call_function(DoubleOrderBits.name, col("v")), shift))
    val perBucket = bucketed.groupBy(col(groupCol), col("__b"))
      .agg(sum(col("w")).cast("long").as("__bw"))
    val wOff = Window.partitionBy(col(groupCol)).orderBy(col("__b"))
      .rowsBetween(Window.unboundedPreceding, -1)
    val wAll = Window.partitionBy(col(groupCol))
    // Every integer compare below multiplies a weight prefix (<= totw)
    // by pDen (and totw by pNum <= pDen), so the no-overflow condition
    // is totw <= Long.MaxValue / pDen. Enforce it LOUDLY at the one
    // place totw materializes: silent wraparound would return a wrong
    // quantile instead of an error.
    val totwRaw = sum(col("__bw")).over(wAll).cast("long")
    val offsets = perBucket.select(col(groupCol), col("__b"), col("__bw"),
      coalesce(sum(col("__bw")).over(wOff), lit(0L)).cast("long").as("__off"),
      when(totwRaw > lit(Long.MaxValue / pDen), raise_error(lit(
        s"weightedQuantile: total weight * pDen=$pDen overflows long")))
        .otherwise(totwRaw).cast("long").as("__totw"))
    // answer bucket: first whose inclusive prefix reaches p * total.
    // The totw=0 clause keeps zero-weight groups (every bucket passes
    // trivially); min(struct(...)) then selects the first bucket WITH
    // its own offset/total atomically, so the aggregate can never pair
    // one bucket's id with another's offset.
    val target = offsets
      .filter((col("__off") + col("__bw")) * pDen >= col("__totw") * pNum &&
        (col("__off") * pDen < col("__totw") * pNum || col("__totw") === 0L))
      .groupBy(col(groupCol))
      .agg(min(struct(col("__b"), col("__off"), col("__totw"))).as("__t"))
      .select(col(groupCol), col("__t.__b").as("__b"),
        col("__t.__off").as("__off"), col("__t.__totw").as("__totw"))
    val wB = Window.partitionBy(col(groupCol), col("__b")).orderBy(col("v"))
    bucketed.select(col(groupCol), col("__b"), col("v"), col("w"))
      .join(broadcast(target), Seq(groupCol, "__b"))
      .withColumn("cumw", col("__off") + sum(col("w")).over(
        wB.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .filter(col("cumw") * pDen >= col("__totw") * pNum)
      .groupBy(col(groupCol))
      .agg(min(col("v")).as("w_quantile"),
        first(col("__totw")).cast("long").as("total_weight"))
      .select(col(groupCol), col("total_weight"), col("w_quantile"))
      .orderBy(col(groupCol))
  }

  /** Grouped weighted-quantile LADDER: several exact-rational quantiles
    * (e.g. p50/p90/p99) per group from ONE pass over the input — the
    * generalization [[weightedQuantile]] documents as its own caveat
    * (running it per quantile re-reads and re-buckets the fact table
    * once per p). The census (bucket + weight count) happens once; a
    * bucket is fetched back iff it is the answer bucket of AT LEAST ONE
    * requested quantile, and one final aggregate extracts every
    * quantile's answer simultaneously.
    *
    * Correctness of the shared fetch: the bit-image bucket id is
    * order-preserving, so every row of a LATER bucket is >= every row
    * of an earlier one. For quantile p the filter
    * `cumw * pDen >= totw * pNum` admits exactly the rows at or past
    * the p-crossing; rows admitted from later (non-answer) buckets are
    * all >= the answer bucket's qualifying rows, so
    * `min(v | crossing)` is unchanged by their presence — per-quantile
    * bucket isolation is unnecessary and one joined frame serves all
    * quantiles.
    *
    * Same contract as [[weightedQuantile]]: non-negative integral
    * weights, lower quantile (no interpolation), zero-total groups
    * return the group min for every quantile. The no-overflow guard
    * uses the largest requested pDen.
    *
    * Output: groupCol, total_weight, then one column per requested
    * quantile named by `outNames`.
    */
  def weightedQuantileLadder(
      df: DataFrame,
      valueCol: String,
      weightCol: String,
      groupCol: String,
      ps: Seq[(Long, Long)],
      outNames: Seq[String],
      shift: Int = 44): DataFrame = {
    require(shift >= 0 && shift < 64, s"shift=$shift")
    require(ps.nonEmpty && ps.length == outNames.length, "ps/outNames mismatch")
    ps.foreach { case (pNum, pDen) =>
      require(pDen > 0 && pNum > 0 && pNum <= pDen, s"p=$pNum/$pDen out of (0,1]") }
    val maxDen = ps.map(_._2).max
    DoubleOrderBits.ensureRegistered(df.sparkSession)
    val bucketed = df
      // + 0.0 folds -0.0 into +0.0 — see weightedQuantile
      .select(col(groupCol), (col(valueCol).cast("double") + lit(0.0)).as("v"),
        col(weightCol).cast("long").as("w"))
      .where(col("v").isNotNull)
      .withColumn("__b",
        shiftright(call_function(DoubleOrderBits.name, col("v")), shift))
    val perBucket = bucketed.groupBy(col(groupCol), col("__b"))
      .agg(sum(col("w")).cast("long").as("__bw"))
    val wOff = Window.partitionBy(col(groupCol)).orderBy(col("__b"))
      .rowsBetween(Window.unboundedPreceding, -1)
    val wAll = Window.partitionBy(col(groupCol))
    val totwRaw = sum(col("__bw")).over(wAll).cast("long")
    val offsets = perBucket.select(col(groupCol), col("__b"), col("__bw"),
      coalesce(sum(col("__bw")).over(wOff), lit(0L)).cast("long").as("__off"),
      when(totwRaw > lit(Long.MaxValue / maxDen), raise_error(lit(
        s"weightedQuantileLadder: total weight * pDen=$maxDen overflows long")))
        .otherwise(totwRaw).cast("long").as("__totw"))
    // a bucket is needed iff it straddles SOME quantile's crossing
    // (zero-total groups keep every bucket -> min(v) = group min)
    val needed = ps.map { case (pNum, pDen) =>
      (col("__off") + col("__bw")) * pDen >= col("__totw") * pNum &&
        (col("__off") * pDen < col("__totw") * pNum || col("__totw") === 0L)
    }.reduce(_ || _)
    val targets = offsets.filter(needed)
      .select(col(groupCol), col("__b"), col("__off"), col("__totw"))
    val wB = Window.partitionBy(col(groupCol), col("__b")).orderBy(col("v"))
    val withCum = bucketed.select(col(groupCol), col("__b"), col("v"), col("w"))
      .join(broadcast(targets), Seq(groupCol, "__b"))
      .withColumn("cumw", col("__off") + sum(col("w")).over(
        wB.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
    val aggs = ps.zip(outNames).map { case ((pNum, pDen), name) =>
      min(when(col("cumw") * pDen >= col("__totw") * pNum, col("v"))).as(name)
    }
    withCum.groupBy(col(groupCol))
      .agg(first(col("__totw")).cast("long").as("total_weight"), aggs: _*)
      .select(col(groupCol) +: col("total_weight") +: outNames.map(col): _*)
      .orderBy(col(groupCol))
  }

  /** Mann–Kendall monotonic-trend test over daily revenue: S = sum of
    * sign(y_j - y_i) over ordered day pairs, with the tie-corrected
    * normal approximation z = (S -/+ 1)/sqrt(Var S),
    * Var S = (n(n-1)(2n+5) - sum_t t(t-1)(2t+5))/18. S, n and the tie
    * term stay exact integers end-to-end (the pair sum is a LONG of
    * +/-1s); only the final z and tau-a = S/(n(n-1)/2) touch doubles,
    * trunc4'd. Same daily-frame quadratic shape as [[revenueTheilSen]]:
    * the pair join is over the aggregated |days| rows, broadcast, never
    * the fact table.
    */
  def revenueMannKendall(orders: DataFrame): DataFrame = {
    import Num.trunc4
    Int128Sum.ensureRegistered(orders.sparkSession)
    val daily = orders
      .groupBy(to_date(col("o_orderdate")).as("day"))
      .agg(Int128Sum.sumLong(round(col("o_totalprice") * 100d).cast("long"), 0).as("cents"))
      .select(datediff(col("day"), lit("1970-01-01")).cast("long").as("x"),
        col("cents").as("y"))
    val d2 = daily.select(col("x").as("x2"), col("y").as("y2"))
    val s = daily.join(broadcast(d2), col("x2") > col("x"))
      .agg(sum(when(col("y2") > col("y"), 1L)
        .when(col("y2") < col("y"), -1L).otherwise(0L)).cast("long").as("s_stat"))
    val nAndTies = daily
      .groupBy(col("y")).agg(count(lit(1)).as("t"))
      .agg(sum(col("t")).cast("long").as("n"),
        sum(col("t") * (col("t") - 1) * (col("t") * 2 + 5)).cast("long").as("tie_term"))
    val nD = col("n").cast("double")
    val varS = (nD * (nD - 1) * (nD * 2 + 5) - col("tie_term").cast("double")) / 18.0
    val sD = col("s_stat").cast("double")
    val z = when(col("s_stat") > 0, (sD - 1) / sqrt(varS))
      .when(col("s_stat") < 0, (sD + 1) / sqrt(varS)).otherwise(lit(0.0))
    s.crossJoin(broadcast(nAndTies))
      .select(col("n").as("n_days"), col("s_stat"),
        trunc4(sD / (nD * (nD - 1) / 2.0)).as("tau4"),
        trunc4(z).as("z4"))
  }

  /** CUSUM changepoint scan over daily revenue: cumulative sum of
    * deviations from the global mean, whose extremes mark the most
    * likely level-shift points. The mean comes from the exact cents
    * total; the cumulative sum is an ordered window over the |days|
    * frame — sequential left-to-right accumulation, so both engines
    * fold the identical sequence. Emits the top-k |CUSUM| days
    * (TakeOrdered; ties break on day).
    */
  def revenueChangepoints(orders: DataFrame, k: Int = 5): DataFrame = {
    import Num.trunc4
    Int128Sum.ensureRegistered(orders.sparkSession)
    val daily = orders
      .groupBy(to_date(col("o_orderdate")).as("day"))
      .agg(Int128Sum.sumLong(round(col("o_totalprice") * 100d).cast("long"), 0).as("cents"))
    val tot = daily.agg(sum(col("cents")).cast("long").as("tc"), count(lit(1)).as("n"))
    val w = Window.orderBy(col("day")).rowsBetween(Long.MinValue, 0)
    daily.crossJoin(broadcast(tot))
      .select(col("day"),
        (col("cents").cast("double") / 100.0 -
          col("tc").cast("double") / col("n").cast("double") / 100.0).as("dev"))
      .withColumn("cusum", sum(col("dev")).over(w))
      .select(col("day"), trunc4(col("cusum")).as("cusum4"))
      .orderBy(abs(col("cusum4")).desc, col("day"))
      .limit(k)
  }

  /** Autocorrelation of the daily-revenue series at lags 1..maxLag —
    * the seasonality detector (a weekly cycle shows as a peak at lag
    * 7). Same exact-moment policy as [[revenueTrendOls]]: with S the
    * exact cents total and N the day count, the mean-centered terms
    * are scaled to integers dev_t = N·x_t − S (decimal(38,0): N~1e4 ×
    * cents~1e12 and their squared products stay far under 38 digits),
    * so numerator and denominator are EXACT integer aggregates in any
    * partial-aggregation order, and the only float op is the final
    * division, identical in both engines.
    *
    * Scale shape: one partial-first aggregate collapses the fact table
    * to |days| rows; the lag pairing is a broadcast of maxLag lag ids
    * against the tiny series + one equi-join on the shifted index —
    * nothing downstream of the first aggregate depends on corpus size.
    */
  def revenueAutocorr(orders: DataFrame, maxLag: Int = 7): DataFrame = {
    import Num.trunc4
    require(maxLag >= 1, s"maxLag=$maxLag out of range")
    Int128Sum.ensureRegistered(orders.sparkSession)
    val wRn = Window.orderBy(col("day"))
    val daily = orders
      .groupBy(to_date(col("o_orderdate")).as("day"))
      .agg(Int128Sum.sumLong(round(col("o_totalprice") * 100d).cast("long"), 0).as("cents"))
    val tot = daily.agg(sum(col("cents")).cast("decimal(38,0)").as("s"),
      count(lit(1)).cast("decimal(38,0)").as("nn"))
    val dev = daily
      .withColumn("rn", row_number().over(wRn))
      .crossJoin(broadcast(tot))
      .select(col("rn"),
        (col("nn") * col("cents").cast("decimal(38,0)") - col("s")).as("dev"))
      .localCheckpoint(false) // referenced 3x below; one window pass only
    val den = dev.agg(sum(col("dev") * col("dev")).as("den"))
    val ks = orders.sparkSession.range(1, maxLag + 1).toDF("k")
    val num = dev
      .crossJoin(broadcast(ks))
      .select(col("k"), (col("rn") + col("k")).as("rn2"), col("dev").as("dev_a"))
      .join(dev.select(col("rn").as("rn2"), col("dev").as("dev_b")), "rn2")
      .groupBy(col("k"))
      .agg(count(lit(1)).as("n_pairs"), sum(col("dev_a") * col("dev_b")).as("num"))
    num.crossJoin(broadcast(den))
      .select(col("k"), col("n_pairs"),
        trunc4(col("num").cast("double") / col("den").cast("double")).as("ac4"))
      .orderBy(col("k"))
  }

  /** Repeat-purchase cadence per market segment: exact median and p90
    * of the day-gaps between a customer's consecutive orders — the
    * replenishment-cycle read behind inventory planning and
    * "customer overdue" churn triggers. Day indices are integer
    * days-since-epoch (engine-neutral), gaps come from a per-customer
    * lag window (hash-partitioned by customer, no global sort), and
    * the percentiles interpolate exact integer-valued doubles.
    * Null segments are normalized to 'UNKNOWN' (Spark and DuckDB
    * disagree on NULL sort order; names don't).
    */
  def reorderGaps(orders: DataFrame, customer: DataFrame): DataFrame = {
    import Num.trunc4
    val w = Window.partitionBy(col("o_custkey")).orderBy(col("d"), col("o_orderkey"))
    val gaps = orders
      .select(col("o_custkey"), col("o_orderkey"),
        datediff(to_date(col("o_orderdate")), lit("1970-01-01")).as("d"))
      .withColumn("prev_d", lag(col("d"), 1).over(w))
      .filter(col("prev_d").isNotNull)
      .select(col("o_custkey"), (col("d") - col("prev_d")).cast("double").as("gap"))
    gaps
      .join(customer.select(col("c_custkey").as("o_custkey"),
        coalesce(col("c_mktsegment"), lit("UNKNOWN")).as("segment")), "o_custkey")
      .groupBy(col("segment"))
      .agg(count(lit(1)).as("n_gaps"),
        trunc4(expr("percentile(gap, 0.5)")).as("med_gap4"),
        trunc4(expr("percentile(gap, 0.9)")).as("p90_gap4"))
      .orderBy(col("segment"))
  }

  /** Additive seasonal decomposition (STL-lite) of daily revenue:
    * detrend by a trailing 7-day moving average (full windows only),
    * then per-day-of-week mean of the detrended series = the seasonal
    * component, and the within-dow spread = the residual scale. The
    * day-of-week is (days-since-epoch mod 7) — pure integer
    * arithmetic, immune to the engines' dayofweek numbering mismatch
    * (Spark 1=Sun..7, DuckDB 0=Sun..6).
    *
    * Scale shape: everything after the first partial-first daily
    * aggregate runs on the |days| frame. Trailing (not centered) MA
    * keeps the op streaming/incremental-friendly. The sliding-window
    * mean may accumulate in different orders across engines (segment
    * trees vs running sums) — the ~1e-16-relative noise that admits is
    * far under the trunc4 grid at these magnitudes.
    */
  def seasonalDecompose(orders: DataFrame): DataFrame = {
    import Num.trunc4
    Int128Sum.ensureRegistered(orders.sparkSession)
    val daily = orders
      .groupBy(to_date(col("o_orderdate")).as("day"))
      .agg(Int128Sum.sumLong(round(col("o_totalprice") * 100d).cast("long"), 0).as("cents"))
      .select(col("day"), (col("cents").cast("double") / 100.0).as("x"))
    val wRn = Window.orderBy(col("day"))
    val wMa = Window.orderBy(col("day")).rowsBetween(-6, 0)
    daily
      .withColumn("rn", row_number().over(wRn))
      .withColumn("ma", avg(col("x")).over(wMa))
      .filter(col("rn") >= 7)
      .select(
        pmod(datediff(col("day"), lit("1970-01-01")), lit(7)).cast("long").as("dow"),
        (col("x") - col("ma")).as("det"))
      .groupBy(col("dow"))
      .agg(count(lit(1)).as("n_days"),
        trunc4(avg(col("det"))).as("seasonal4"),
        trunc4(stddev_pop(col("det"))).as("resid_sd4"))
      .orderBy(col("dow"))
  }

  /** Monthly COHORT RETENTION matrix: customers grouped by their
    * first-order month (the cohort), counted as active in each
    * month-offset since — the standard retention triangle. Months are
    * absolute integer indices (year*12 + month - 1), engine-neutral
    * integer arithmetic with no date-diff semantics to disagree on.
    *
    * Scale shape: one aggregate finds each customer's cohort (partial-
    * first min), one equi-join on the customer key brings it back to
    * the order stream (AQE broadcasts the cohort side when it fits),
    * and the distinct-count collapses per (cohort, offset) — all
    * hash-partitioned, no window, no sort of the fact table.
    */
  def cohortRetention(orders: DataFrame): DataFrame = {
    val om = orders.select(col("o_custkey"),
      (year(col("o_orderdate")) * 12 + month(col("o_orderdate")) - 1).as("m"))
    val first = om.groupBy(col("o_custkey")).agg(min(col("m")).as("cm"))
    om.join(first, "o_custkey")
      .groupBy(col("cm").cast("long").as("cohort_month"),
        (col("m") - col("cm")).cast("long").as("month_offset"))
      .agg(countDistinct(col("o_custkey")).as("n_active"))
      .orderBy(col("cohort_month"), col("month_offset"))
  }

  /** 2-D SKYLINE (Pareto frontier) per group: rows not dominated on a
    * (minimize cost, maximize gain) pair — e.g. cheapest-per-size
    * parts within a brand, best quality-per-length documents within a
    * source. A row is dominated iff some same-group row is strictly
    * cheaper with gain ≥ its own, or no costlier with gain strictly
    * greater. Both conditions are running-max window frames over the
    * cost order — the O(n log n) sweep formulation of the classic
    * skyline operator, not the O(n²) dominance self-join — expressed
    * as two RANGE frames so cost TIES are handled exactly (duplicates
    * on both axes survive together; neither dominates).
    *
    * `costCol` must be integral (cents, not raw doubles): the
    * `RANGE ... 1 PRECEDING` strict frame subtracts 1 from the
    * current cost, which is only a "strictly cheaper" boundary on an
    * integer domain. Scale shape: per-group hash-partitioned window,
    * no global sort, no self-join.
    */
  def paretoFrontier(
      df: DataFrame, groupCol: String, costCol: String, gainCol: String): DataFrame = {
    val wStrict = Window.partitionBy(col(groupCol)).orderBy(col(costCol))
      .rangeBetween(Window.unboundedPreceding, -1)
    val wIncl = Window.partitionBy(col(groupCol)).orderBy(col(costCol))
      .rangeBetween(Window.unboundedPreceding, Window.currentRow)
    df.withColumn("m_strict", max(col(gainCol)).over(wStrict))
      .withColumn("m_incl", max(col(gainCol)).over(wIncl))
      .filter((col("m_strict").isNull || col("m_strict") < col(gainCol)) &&
        col("m_incl") === col(gainCol))
      .drop("m_strict", "m_incl")
  }

  /** Lorenz curve by customer-spend decile: each decile's share of
    * total revenue and the cumulative share — the concentration table
    * behind "top X% of customers drive Y% of revenue". Deciles come
    * from ntile over the per-customer exact-cents aggregate (the
    * |customers|-row frame, never the fact table); shares divide exact
    * integer cents, trunc4'd; the cumulative window runs on 10 rows.
    */
  def revenueLorenz(orders: DataFrame): DataFrame = {
    import Num.trunc4
    Int128Sum.ensureRegistered(orders.sparkSession)
    val per = orders.groupBy(col("o_custkey"))
      .agg(Int128Sum.sumLong(round(col("o_totalprice") * 100d).cast("long"), 0).as("cents"))
    // decile from the range-partitioned global rank (see
    // [[withGlobalRowNumber]]) — the per-customer frame scales with the
    // data, so the old single-partition ntile window was the 100 TB
    // bottleneck; the 10-row cumulative window below is bounded and
    // runs under an explicit constant partition.
    val ranked = withGlobalRowNumber(per, Seq(col("cents"), col("o_custkey")))
    val byDec = ranked.select(col("cents"),
        ntileFromRank(col("__rnk"), col("__ntot"), 10).cast("long").as("decile"))
      .groupBy(col("decile"))
      .agg(count(lit(1)).as("n_customers"), sum(col("cents")).cast("long").as("dc"))
    val tot = byDec.agg(sum(col("dc")).cast("long").as("total"))
    // cumulative share over the 10 decile rows via a triangular
    // broadcast join (sum of all deciles <= this one) — window-free
    val cum = byDec
      .join(broadcast(byDec.select(col("decile").as("d2"), col("dc").as("dc2"))),
        col("d2") <= col("decile"))
      .groupBy(col("decile"), col("n_customers"), col("dc"))
      .agg(sum(col("dc2")).as("cum"))
    cum.crossJoin(broadcast(tot))
      .select(col("decile"), col("n_customers"),
        (col("dc").cast("double") / 100.0).as("spend"),
        trunc4(col("dc").cast("double") / col("total").cast("double")).as("share4"),
        trunc4(col("cum").cast("double") / col("total").cast("double")).as("cum_share4"))
      .orderBy(col("decile"))
  }

  /** Gini coefficient + top-20% revenue share of customer spend — the
    * two headline inequality numbers over [[revenueLorenz]]'s
    * distribution, from the closed form G = (2*S1 - (n+1)*S0)/(n*S0)
    * with S1 = sum(rank * x) over spend-ranked customers. Both S0 and
    * S1 are EXACT integer sums (rank and cents are integers; at
    * extreme scale S1 is the [[graft.ext.expr.Int128Sum]] candidate),
    * so the only float ops are the two final divisions — trunc4'd,
    * engine-neutral. The rank window runs over the per-customer
    * aggregate; one row out.
    */
  def revenueGini(orders: DataFrame): DataFrame = {
    import Num.trunc4
    Int128Sum.ensureRegistered(orders.sparkSession)
    val per = orders.groupBy(col("o_custkey"))
      .agg(Int128Sum.sumLong(round(col("o_totalprice") * 100d).cast("long"), 0).as("cents"))
    // rank + total count from the range-partitioned global rank — the
    // old single-partition row_number window over the per-customer
    // frame was the 100 TB bottleneck (see [[withGlobalRowNumber]])
    val ranked = withGlobalRowNumber(per, Seq(col("cents"), col("o_custkey")))
      .select(col("cents"), col("__rnk").cast("long").as("rnk"),
        col("__ntot").cast("long").as("ntot"))
    val agg = ranked.agg(
      count(lit(1)).as("n_customers"),
      sum(col("cents")).cast("long").as("s0"),
      sum(col("rnk") * col("cents")).cast("long").as("s1"),
      // integer threshold: rank > 0.8 n  <=>  5*rank > 4*n
      sum(when(col("rnk") * 5L > col("ntot") * 4L, col("cents"))
        .otherwise(0L)).cast("long").as("top20c"))
    agg.select(col("n_customers"),
      (col("s0").cast("double") / 100.0).as("total_revenue"),
      trunc4((lit(2.0) * col("s1").cast("double") -
        (col("n_customers") + 1L).cast("double") * col("s0").cast("double")) /
        (col("n_customers").cast("double") * col("s0").cast("double"))).as("gini4"),
      trunc4(col("top20c").cast("double") / col("s0").cast("double")).as("top20_share4"))
  }

  /** Robust (median/MAD) daily-revenue anomaly days — the outlier
    * screen that survives the very anomalies a mean/sigma z-score
    * (see [[Events.dailyAnomalies]]) lets contaminate its own
    * baseline. Day totals are exact cents; median and MAD are exact
    * interpolated percentiles over the |days|-row aggregate, broadcast
    * back as 1-row joins; the modified z-score 0.6745*(x-med)/mad is
    * one IEEE expression over identical inputs in both engines, so
    * even the > cutoff comparison is deterministic.
    */
  def robustAnomalyDays(orders: DataFrame, cutoff: Double = 3.0): DataFrame = {
    import Num.trunc4
    Int128Sum.ensureRegistered(orders.sparkSession)
    val daily = orders
      .groupBy(to_date(col("o_orderdate")).as("day"))
      .agg(Int128Sum.sumLong(round(col("o_totalprice") * 100d).cast("long"), 0).as("cents"))
      .select(col("day"), (col("cents").cast("double") / 100.0).as("x"))
    val med = daily.agg(expr("percentile(x, 0.5)").as("med"))
    val dev = daily.crossJoin(broadcast(med))
      .select(col("day"), col("x"), col("med"), abs(col("x") - col("med")).as("dv"))
    val mad = dev.agg(expr("percentile(dv, 0.5)").as("mad"))
    val z = lit(0.6745) * (col("x") - col("med")) / col("mad")
    dev.crossJoin(broadcast(mad))
      .filter(col("mad") > 0.0 && abs(z) > cutoff)
      .select(col("day"), col("x").as("revenue"), trunc4(z).as("z4"))
      .orderBy(col("day"))
  }

  /** 30-term truncated EWMA of daily revenue — the smoothing pass a
    * monitoring/forecast pipeline runs over a metric series. Contract:
    * ewma_t = alpha * sum over the last `terms` DAYS-rows of
    * (1-alpha)^(day_t - day_j) * x_j — decay follows the CALENDAR gap
    * (a 3-day hole decays 3x), truncation follows row count.
    *
    * Formulation: a windowed SUM of pre-scaled terms,
    * `(1-a)^(-day_j) * x_j`, multiplied by `(1-a)^(day_t)` outside the
    * window — a plain ROWS-window aggregate instead of an inexpressible
    * recursion, identical in any SQL engine. Day offsets are
    * re-based to the series minimum so the scaling factor spans at
    * most (1-a)^(-series_days): well inside double range for years of
    * data, and relative error stays ~1e-15 (no cancellation: all
    * terms positive), absorbed by trunc4. The window runs over the
    * DAY-level aggregate (|days| rows), never the fact table.
    */
  def ewmaDailyRevenue(
      orders: DataFrame,
      alpha: Double = 0.1,
      terms: Int = 30): DataFrame = {
    import Num.trunc4
    require(alpha > 0 && alpha < 1 && terms >= 1, s"alpha=$alpha terms=$terms")
    val q = 1.0 - alpha
    Int128Sum.ensureRegistered(orders.sparkSession)
    val daily = orders
      .groupBy(to_date(col("o_orderdate")).as("day"))
      .agg(Int128Sum.sumLong(round(col("o_totalprice") * 100d).cast("long"), 0).as("cents"))
    val base = daily.agg(min(datediff(col("day"), lit("1970-01-01"))).as("base"))
    val w = Window.orderBy(col("d")).rowsBetween(-(terms - 1), 0)
    daily.crossJoin(broadcast(base))
      .select(col("day"),
        (datediff(col("day"), lit("1970-01-01")) - col("base")).as("d"),
        (col("cents").cast("double") / 100.0).as("x"))
      .withColumn("s", sum(pow(lit(q), -col("d")) * col("x")).over(w))
      .select(col("day"), trunc4(col("x")).as("revenue"),
        trunc4(lit(alpha) * pow(lit(q), col("d")) * col("s")).as("ewma4"))
      .orderBy(col("day"))
  }

  /** Benford's-law first-significant-digit audit (fraud/synthetic-data
    * screening): observed share of each leading digit vs the Benford
    * expectation log10(1 + 1/d). The digit comes from an exact
    * range-ladder (`10^k <= x < 10^(k+1) -> floor(x / 10^k)`) rather
    * than log10(x) — double division by an exact power of ten is
    * bit-identical in every engine, while a 1-ulp log10 difference at
    * a power-of-ten boundary would flip the digit. Expected shares are
    * compile-time constants. One partial-first aggregate; 9 output
    * rows.
    */
  def benfordFirstDigit(df: DataFrame, valueCol: String): DataFrame = {
    import Num.trunc4
    val x = col(valueCol).cast("double")
    val digit = (0 to 11).foldLeft(lit(null).cast("long")) { (acc, k) =>
      val lo = math.pow(10, k)
      when(x >= lo && x < lo * 10, floor(x / lit(lo)).cast("long")).otherwise(acc)
    }
    val n = df.filter(x >= 1.0 && x < 1e12)
      .select(digit.as("digit"))
      .groupBy(col("digit")).agg(count(lit(1)).as("n"))
    val tot = n.agg(sum(col("n")).cast("long").as("total"))
    val expected = (1 to 9).map(d => d.toLong -> math.log10(1 + 1.0 / d)).toMap
    val expCol = expected.foldLeft(lit(null).cast("double")) { case (acc, (d, e)) =>
      when(col("digit") === d, lit(e)).otherwise(acc)
    }
    n.crossJoin(broadcast(tot))
      .select(col("digit"), col("n"),
        trunc4(col("n").cast("double") / col("total").cast("double")).as("share4"),
        trunc4(expCol).as("benford4"),
        trunc4(col("n").cast("double") / col("total").cast("double") - expCol).as("dev4"))
      .orderBy(col("digit"))
  }

  /** Per-group winsorized mean (clip at [p_lo, p_hi]): the robust
    * location estimate next to [[iqrOutliers]]'s detection. The
    * winsorized SUM is decomposed so it stays deterministic: interior
    * rows accumulate as EXACT cents (decimal sum, order-free), and the
    * clipped tails contribute count x fence — two exact integers times
    * one double — so no double is ever accumulated across rows. Output
    * per group: n, clip counts, raw mean, winsorized mean (trunc4).
    *
    * Null contract: rows with a null `valueCol` are EXCLUDED from every
    * statistic, `n` included — the same population the percentile pass
    * sees (the oracle SQL carries a matching IS NOT NULL filter). A
    * null can contribute neither a cents term nor a clip count, so
    * counting it in `n` would deflate both means.
    */
  def winsorizedMean(
      df: DataFrame,
      valueCol: String,
      groupCol: String,
      pLo: Double = 0.05,
      pHi: Double = 0.95): DataFrame = {
    import Num.trunc4
    require(pLo >= 0 && pHi <= 1 && pLo < pHi, s"bad clip range [$pLo, $pHi]")
    // ONE narrow (group, value) projection persisted up front: the
    // percentile pass references its input twice (bucket census +
    // boundary-bucket rank) and the clipping aggregate reads it a third
    // time — without the cache that is three fact-table scans for a
    // |groups|-row report (measured 0.94s vs DuckDB's 0.10 at sf0.1).
    // `+ 0.0` folds -0.0 (see groupedExactPercentiles), a no-op for the
    // cents/compare math below.
    // spread BELOW the persist: the narrow projection inherits the
    // single-file scan's one partition, so the cache build AND all
    // three cached reads (bucket census, boundary rank, clip aggregate)
    // ran one-task map sides (measured interleaved at sf0.1: 0.78 ->
    // 0.61s even with the cruder full-width outer spread). No-op on a
    // wide scan; values/order untouched (percentiles are sort-based).
    val proj = graft.Tables.spread(df
      .select(col(groupCol), (col(valueCol).cast("double") + lit(0.0)).as("__v"))
      .where(col("__v").isNotNull))
      .persist() // lifetime: see priceIndexLaspeyres (harness drops it per query)
    // declarative sort-based exact percentiles — the built-in percentile
    // aggregate's hash-map merge was ~10x the cost of this whole query
    val fences = groupedExactPercentiles(proj, "__v", groupCol,
        Seq(pLo, pHi), Seq("lo", "hi"))
      .select(col(groupCol), col("lo"), col("hi"))
    val x = col("__v")
    // explicit broadcast: the fence table is |groups| rows (bounded by
    // the group column's cardinality), but the static planner only sees
    // its percentile subplan's garbage estimate next to the cached
    // projection's small PRE-materialization estimate — and picks the
    // FACT side as build (measured sf0.1: a 67 MB / 600k-row broadcast
    // collect per rep, AQE off). §3.1: hint when you know the side.
    proj.join(broadcast(fences), groupCol)
      .groupBy(col(groupCol))
      .agg(count(lit(1)).as("n"),
        sum(when(x < col("lo"), 1L).otherwise(0L)).cast("long").as("n_lo"),
        sum(when(x > col("hi"), 1L).otherwise(0L)).cast("long").as("n_hi"),
        sum(round(x * 100d).cast("long")).cast("long").as("cents_all"),
        sum(when(x >= col("lo") && x <= col("hi"), round(x * 100d).cast("long"))
          .otherwise(0L)).cast("long").as("cents_in"),
        first(col("lo")).as("lo"), first(col("hi")).as("hi"))
      .select(col(groupCol), col("n"), col("n_lo"), col("n_hi"),
        trunc4(col("cents_all").cast("double") / 100.0 / col("n").cast("double"))
          .as("mean4"),
        trunc4((col("cents_in").cast("double") / 100.0 +
          col("n_lo").cast("double") * col("lo") +
          col("n_hi").cast("double") * col("hi")) / col("n").cast("double"))
          .as("winsor_mean4"))
      .orderBy(col(groupCol))
  }

  /** Per-group IQR outlier fences (Tukey): exact q1/q3 per group, fences
    * at 1.5*IQR, and the count/share of rows outside them. One
    * fact-table scan into a persisted narrow projection; the
    * exact-percentile aggregate per group and the fence-join counting
    * aggregate (fence table broadcast by AQE) then re-read the cache,
    * not the table. Fences are identical IEEE
    * arithmetic on identically-interpolated percentiles in both
    * engines, so the outlier comparison is deterministic.
    *
    * Null contract: rows with a null `valueCol` are EXCLUDED from `n`
    * and the shares — same population as the fence percentiles (the
    * oracle SQL carries a matching IS NOT NULL filter); a null is
    * neither inside nor outside a fence.
    */
  def iqrOutliers(df: DataFrame, valueCol: String, groupCol: String): DataFrame = {
    import Num.trunc4
    // persisted narrow projection: same three-scans-to-one rationale as
    // [[winsorizedMean]], and the same spread-below-the-persist (the
    // cache and its three readers otherwise ride the single-file scan's
    // one partition)
    val proj = graft.Tables.spread(df
      .select(col(groupCol), (col(valueCol).cast("double") + lit(0.0)).as("__v"))
      .where(col("__v").isNotNull))
      .persist() // lifetime: see priceIndexLaspeyres (harness drops it per query)
    val q = groupedExactPercentiles(proj, "__v", groupCol,
        Seq(0.25, 0.75), Seq("q1", "q3"))
      .select(col(groupCol),
        (col("q1") - (col("q3") - col("q1")) * 1.5).as("lo_fence"),
        (col("q3") + (col("q3") - col("q1")) * 1.5).as("hi_fence"))
    // explicit broadcast of the |groups|-row fence table — see the
    // identical mis-broadcast note in [[winsorizedMean]]
    proj.join(broadcast(q), groupCol)
      .groupBy(col(groupCol))
      .agg(count(lit(1)).as("n"),
        sum(when(col("__v") < col("lo_fence") || col("__v") > col("hi_fence"), 1L)
          .otherwise(0L)).cast("long").as("n_outliers"),
        trunc4(first(col("lo_fence"))).as("lo4"),
        trunc4(first(col("hi_fence"))).as("hi4"))
      .withColumn("outlier_pct4",
        trunc4(col("n_outliers").cast("double") / col("n").cast("double") * 100.0))
      .orderBy(col(groupCol))
  }

  /** Join-key skew profile: the diagnostic that decides whether a key
    * needs salting/AQE-skew-join before a big shuffle. Emits the top-k
    * heaviest keys with their absolute count, share of all rows, and
    * multiple-of-the-mean-key (x_mean ≫ 1 on a key is exactly the
    * "one reducer gets this" warning).
    *
    * Scale shape: one partial-first count per key, TakeOrderedAndProject
    * for the top-k, and a broadcast 1-row total — the full key census
    * is never sorted and never leaves the executors. The final
    * row_number window runs on k rows.
    */
  def keySkewProfile(df: DataFrame, keyCol: String, k: Int = 10): DataFrame = {
    import Num.trunc4
    val counts = df.groupBy(col(keyCol).as("key")).agg(count(lit(1)).as("n_rows"))
    val tot = counts.agg(sum(col("n_rows")).cast("long").as("total"),
      count(lit(1)).as("n_keys"))
    val w = Window.orderBy(col("n_rows").desc, col("key"))
    counts.orderBy(col("n_rows").desc, col("key")).limit(k)
      .crossJoin(broadcast(tot))
      .select(row_number().over(w).cast("long").as("rnk"),
        col("key"), col("n_rows"),
        trunc4(col("n_rows").cast("double") / col("total").cast("double")).as("share4"),
        trunc4(col("n_rows").cast("double") * col("n_keys").cast("double") /
          col("total").cast("double")).as("x_mean4"))
      .orderBy(col("rnk"))
  }

  /** Monthly revenue trend with month-over-month growth: date_trunc to
    * month, exact int128 cents per month, then a lag window over the
    * (tiny, one-row-per-month) aggregated series — the window runs on
    * |months| rows, never on the fact table. Growth is one division of
    * exact integer cents, so both engines agree bit-for-bit before
    * trunc4.
    */
  def monthlyRevenueTrend(orders: DataFrame): DataFrame = {
    import Num.trunc4
    Int128Sum.ensureRegistered(orders.sparkSession)
    val m = orders
      .groupBy(date_trunc("month", col("o_orderdate")).as("mo"))
      .agg(count(lit(1)).as("n_orders"),
        Int128Sum.sumLong(round(col("o_totalprice") * 100d).cast("long"), 0).as("cents"))
    val w = Window.orderBy(col("mo"))
    val prev = lag(col("cents"), 1).over(w)
    m.select(
      unix_timestamp(col("mo")).as("month_epoch"),
      col("n_orders"),
      (col("cents").cast("double") / 100.0).as("revenue"),
      when(prev.isNull, lit(null).cast("double"))
        .otherwise(trunc4((col("cents") - prev).cast("double") / prev.cast("double")))
        .as("growth"))
      .orderBy(col("month_epoch"))
  }

  /** RFM (recency / frequency / monetary) customer segmentation with
    * FIXED thresholds — rule-based rather than quantile-based, so the
    * segmentation is exact integer/cents arithmetic end-to-end (no
    * global sort, no percentile; a rank-based variant would need a
    * distributed quantile pass). Recency anchors on the corpus max
    * order date via a broadcast 1-row aggregate — lazy, never an eager
    * count. One partial-first aggregate per customer, then a tiny
    * segment rollup.
    */
  def rfmSegments(
      orders: DataFrame,
      recentDays: Int = 60,
      minFrequency: Long = 8,
      minMonetaryCents: Long = 100000L * 100): DataFrame = {
    Int128Sum.ensureRegistered(orders.sparkSession)
    val perCust = orders.groupBy(col("o_custkey"))
      .agg(
        max(col("o_orderdate")).as("last_order"),
        count(lit(1)).as("frequency"),
        Int128Sum.sumLong(round(col("o_totalprice") * 100d).cast("long"), 0)
          .as("monetary_cents"))
    val anchor = orders.agg(max(col("o_orderdate")).as("max_date"))
    val recencyDays =
      datediff(col("max_date"), col("last_order")).cast("long")
    val seg =
      when(recencyDays <= recentDays && col("frequency") >= minFrequency &&
        col("monetary_cents") >= minMonetaryCents, "champion")
        .when(recencyDays <= recentDays && col("frequency") >= minFrequency, "loyal")
        .when(recencyDays <= recentDays, "recent")
        .when(col("frequency") >= minFrequency, "frequent_lapsed")
        .otherwise("dormant")
    perCust.crossJoin(broadcast(anchor))
      .select(col("o_custkey"), seg.as("segment"), col("monetary_cents"))
      .groupBy(col("segment"))
      .agg(count(lit(1)).as("n_customers"),
        (sum(col("monetary_cents")).cast("double") / 100.0).as("total_spend"))
      .orderBy(col("segment"))
  }

  /** Pairwise statistical profile of lineitem's numeric measures per
    * return flag: Pearson correlation, sample covariance, and sample
    * stddev — the feature-analysis pass a pipeline runs before using a
    * column as a model signal or stratification key. One partial-first
    * hash aggregate: Spark's corr/covar/stddev are single-pass mergeable
    * co-moment accumulators (Welford/Chan), so the shuffle carries one
    * small state per (group, pair), never rows.
    *
    * Determinism: co-moment merge order varies with partitioning, but
    * both engines' stable one-pass formulations agree to ~1e-12
    * relative; trunc4 makes the comparison grid 8 orders coarser than
    * the noise, same policy as [[Curation.tokenEntropy]].
    */
  /** Per-group z-score normalization of a numeric column — the feature
    * scaling every model-input pipeline applies before a column feeds a
    * model or a distance metric. Zero-variance groups normalize to 0
    * rather than NaN.
    *
    * Shape (§2): per-group stats via a partial-first hash aggregate,
    * broadcast-joined back (null-safe on the group key, so a null
    * group behaves exactly like the window partition it replaces). The
    * r7–r11 formulation was Window.partitionBy(group) — one exchange,
    * but the ENTIRE fact lands on |groups| tasks (l_returnflag has 3
    * values: billions of rows on 3 tasks at real scale, the same
    * single-partition-window class the r12 rank family fix killed).
    * Now the fact stream stays map-side: no exchange at all on the
    * fact, a |groups|-row broadcast, and the z projection is
    * whole-stage codegen. The z expression tree ((v-mu)/sd under the
    * same null/zero guard, trunc4) is unchanged; mu/sd come from the
    * same avg/stddev_samp aggregate functions (hash-agg merge order
    * vs window buffer order differs at ~1e-12 relative — 8 orders
    * below the trunc4 grid, the [[corrProfile]] determinism policy).
    */
  def zscoreNormalize(
      df: DataFrame,
      groupCol: String,
      valueCol: String,
      outCol: String = "z"): DataFrame = {
    val stats = df.groupBy(col(groupCol))
      .agg(avg(col(valueCol)).as("__mu"),
        stddev_samp(col(valueCol)).as("__sd"))
      .withColumnRenamed(groupCol, "__g")
    df.join(broadcast(stats), col(groupCol) <=> col("__g"))
      .withColumn(outCol,
        when(col("__sd").isNull || col("__sd") === 0.0, lit(0.0))
          .otherwise(Num.trunc4((col(valueCol) - col("__mu")) / col("__sd"))))
      .select(df.columns.map(col).toIndexedSeq :+ col(outCol): _*)
  }

  def corrProfile(lineitem: DataFrame): DataFrame = {
    import Num.trunc4
    lineitem
      .groupBy(col("l_returnflag"))
      .agg(
        count(lit(1)).as("n"),
        corr(col("l_quantity"), col("l_extendedprice")).as("corr_qty_price"),
        corr(col("l_extendedprice"), col("l_discount")).as("corr_price_disc"),
        covar_samp(col("l_quantity"), col("l_extendedprice")).as("cov_qty_price"),
        stddev_samp(col("l_quantity")).as("sd_qty"),
        stddev_samp(col("l_extendedprice")).as("sd_price"))
      .select(
        col("l_returnflag"), col("n"),
        trunc4(col("corr_qty_price")).as("corr_qty_price"),
        trunc4(col("corr_price_disc")).as("corr_price_disc"),
        trunc4(col("cov_qty_price")).as("cov_qty_price"),
        trunc4(col("sd_qty")).as("sd_qty"),
        trunc4(col("sd_price")).as("sd_price"))
      .orderBy(col("l_returnflag"))
  }

  /** Spearman rank correlation between per-customer order count and
    * total spend — the robust (monotonic, outlier-insensitive)
    * counterpart of [[corrProfile]]'s Pearson. Tied values take average
    * ranks; to keep every rank an exact integer, doubled ranks are
    * used throughout (2*avgRank = 2*cntBelow + t + 1, all integers —
    * the constant factor cancels in the correlation).
    *
    * Scale shape: ranks do NOT come from a global sort of the
    * per-customer frame. Each variable's doubled rank is integer
    * arithmetic over its DISTINCT-value frame (cumulative counts over
    * |distinct| rows, the same trick as Curation.eqfreqBins) joined
    * back — the fact-table-sized frame is never single-partition
    * sorted. All sums are exact longs; the final correlation is one
    * fixed IEEE expression tree, trunc4'd. A doubled Pearson-on-dollars
    * correlation is emitted beside it for the classic rank-vs-linear
    * comparison read.
    */
  def spearmanSpend(orders: DataFrame): DataFrame = {
    import Num.trunc4
    Int128Sum.ensureRegistered(orders.sparkSession)
    val per = orders.groupBy(col("o_custkey"))
      .agg(count(lit(1)).cast("long").as("x"),
        Int128Sum.sumLong(round(col("o_totalprice") * 100d).cast("long"), 0).as("cents"))
      .withColumn("y", floor(col("cents") / 100L).cast("long"))
    // doubled average rank per distinct value: 2*(#strictly below) + t + 1.
    // The cumulative count over the distinct-value frame comes from the
    // range-partitioned withGlobalCumSum (|distinct values| scales with
    // the data — the old unpartitioned window was a single-partition
    // sort at real scale); below = inclusive cum - own count, exact
    // longs either way.
    def rank2(valCol: String, outCol: String) = {
      val cnts = per.groupBy(col(valCol).as("v")).agg(count(lit(1)).cast("long").as("t"))
      withGlobalCumSum(cnts, Seq(col("v")), "t", "__cum", "__tot")
        .select(col("v"), ((col("__cum") - col("t")) * 2 + col("t") + 1).as(outCol))
    }
    val rx = rank2("x", "rx")
    val ry = rank2("y", "ry")
    val ranked = per
      .join(broadcast(rx), per("x") === rx("v")).drop("v")
      .join(broadcast(ry), per("y") === ry("v")).drop("v")
    val sums = ranked.agg(
      count(lit(1)).cast("long").as("n"),
      sum(col("rx")).cast("long").as("sx"),
      sum(col("ry")).cast("long").as("sy"),
      sum(col("rx") * col("rx")).cast("long").as("sxx"),
      sum(col("ry") * col("ry")).cast("long").as("syy"),
      sum(col("rx") * col("ry")).cast("long").as("sxy"),
      sum(col("x")).cast("long").as("px"),
      sum(col("y")).cast("long").as("py"),
      sum(col("x") * col("x")).cast("long").as("pxx"),
      sum(col("y") * col("y")).cast("long").as("pyy"),
      sum(col("x") * col("y")).cast("long").as("pxy"))
    def pearson(n: org.apache.spark.sql.Column, sx: String, sy: String,
        sxx: String, syy: String, sxy: String) = {
      val num = n * col(sxy).cast("double") - col(sx).cast("double") * col(sy).cast("double")
      val dx = n * col(sxx).cast("double") - col(sx).cast("double") * col(sx).cast("double")
      val dy = n * col(syy).cast("double") - col(sy).cast("double") * col(sy).cast("double")
      num / (sqrt(dx) * sqrt(dy))
    }
    val nD = col("n").cast("double")
    sums.select(col("n").as("n_customers"),
      trunc4(pearson(nD, "sx", "sy", "sxx", "syy", "sxy")).as("spearman4"),
      trunc4(pearson(nD, "px", "py", "pxx", "pyy", "pxy")).as("pearson4"))
  }

  /** Forecast-accuracy evaluation on daily revenue: naive (previous
    * observation) and seasonal-naive (7 observations back) one-step
    * forecasts scored by MAE over the common eval window, plus the
    * MASE-style ratio mae_snaive/mae_naive (<1 = weekly seasonality
    * carries real signal). The series is the exact-cents daily frame;
    * every error is an exact long |difference|, so both MAEs are exact
    * rationals evaluated in one final IEEE division, trunc4'd to
    * dollars. The lag window runs over |days| rows (ordered window on
    * the aggregated frame, never the fact table).
    */
  def forecastEval(orders: DataFrame): DataFrame = {
    import Num.trunc4
    Int128Sum.ensureRegistered(orders.sparkSession)
    val daily = orders
      .groupBy(to_date(col("o_orderdate")).as("day"))
      .agg(Int128Sum.sumLong(round(col("o_totalprice") * 100d).cast("long"), 0).as("cents"))
    val w = Window.orderBy(col("day"))
    val scored = daily
      .withColumn("rn", row_number().over(w))
      .withColumn("e1", abs(col("cents") - lag(col("cents"), 1).over(w)))
      .withColumn("e7", abs(col("cents") - lag(col("cents"), 7).over(w)))
      .filter(col("rn") > 7)
    scored.agg(
      count(lit(1)).cast("long").as("n_eval"),
      sum(col("e1")).cast("long").as("s1"),
      sum(col("e7")).cast("long").as("s7"))
      .select(col("n_eval"),
        trunc4(col("s1").cast("double") / col("n_eval").cast("double") / 100.0)
          .as("mae_naive4"),
        trunc4(col("s7").cast("double") / col("n_eval").cast("double") / 100.0)
          .as("mae_snaive4"),
        trunc4(col("s7").cast("double") / col("s1").cast("double")).as("mase4"))
  }

  /** Market-segment x order-priority contingency table with chi-square
    * decomposition: observed count, expected count under independence
    * (rowTotal*colTotal/N), and the per-cell chi-square contribution.
    * Emitting PER-CELL rows (not the summed statistic) keeps every
    * value a fixed IEEE expression tree over exact integers — no
    * cross-engine summation-order concern at all; the reader sums the
    * contribution column for the statistic, dof = (R-1)(C-1).
    * Shape: one partial-first fact aggregate to the |R x C| cell frame,
    * then windows over that tiny frame for the marginals.
    */
  def contingencyChi2(orders: DataFrame, customer: DataFrame): DataFrame = {
    import Num.trunc4
    val cells = orders
      .join(broadcast(customer.select(col("c_custkey"), col("c_mktsegment"))),
        col("o_custkey") === col("c_custkey"))
      .groupBy(col("c_mktsegment").as("segment"), col("o_orderpriority").as("priority"))
      .agg(count(lit(1)).cast("long").as("obs"))
    val rowT = sum(col("obs")).over(Window.partitionBy(col("segment")))
    val colT = sum(col("obs")).over(Window.partitionBy(col("priority")))
    val totT = sum(col("obs")).over(Window.partitionBy())
    val withM = cells
      .withColumn("row_total", rowT.cast("long"))
      .withColumn("col_total", colT.cast("long"))
      .withColumn("n_total", totT.cast("long"))
    val expC = col("row_total").cast("double") * col("col_total").cast("double") /
      col("n_total").cast("double")
    val dev = col("obs").cast("double") - expC
    withM.select(col("segment"), col("priority"), col("obs"),
      trunc4(expC).as("expected4"),
      trunc4(dev * dev / expC).as("contrib4"))
      .orderBy(col("segment"), col("priority"))
  }

  /** Market concentration: Herfindahl–Hirschman index of BRAND revenue
    * share within each customer nation — the standard antitrust/catalog
    * concentration read (HHI = sum of squared market shares, 1/n_brands
    * for a perfectly even market, 1.0 for a monopoly).
    *
    * Scale shape: ONE fact shuffle (lineitem⋈orders on orderkey); part,
    * customer and nation are broadcast dimensions; everything after the
    * first aggregate is |nations × brands| rows. Shares are floored onto
    * an integer basis-point grid and the HHI sums those squares as exact
    * longs, so the cross-brand addition is order-free in any engine
    * (the bp floor also documents the precision: ±1e-4 per share).
    */
  def herfindahlByNation(
      lineitem: DataFrame, orders: DataFrame, customer: DataFrame,
      nation: DataFrame, part: DataFrame): DataFrame = {
    import Num.trunc4
    Int128Sum.ensureRegistered(lineitem.sparkSession)
    val priceC = round(col("l_extendedprice") * 100d).cast("long")
    val disc1C = round((lit(1d) - col("l_discount")) * 100d).cast("long")
    // Project-early + spread: the 4-way broadcast-join probe pipeline is
    // map-side, so its parallelism equals the lineitem SCAN's — one task
    // on a single-file snapshot (measured sf0.1: the full 1.3s probe
    // pipeline on 1 task at local[32]). No-op once the scan is wide.
    val cells = graft.Tables.spread(
        lineitem.select(col("l_partkey"), col("l_orderkey"),
          col("l_extendedprice"), col("l_discount")))
      .join(broadcast(part.select(col("p_partkey"), col("p_brand"))),
        col("l_partkey") === col("p_partkey"))
      .join(orders.select(col("o_orderkey"), col("o_custkey")),
        col("l_orderkey") === col("o_orderkey"))
      .join(broadcast(customer.select(col("c_custkey"), col("c_nationkey"))),
        col("o_custkey") === col("c_custkey"))
      .join(broadcast(nation.select(col("n_nationkey"), col("n_name"))),
        col("c_nationkey") === col("n_nationkey"))
      .groupBy(col("n_name"), col("p_brand"))
      .agg(Int128Sum.sumLong(priceC * disc1C, 0).cast("decimal(38,0)").as("rev"))
    val tot = sum(col("rev")).over(Window.partitionBy(col("n_name")))
    cells
      .withColumn("share_bp",
        floor(col("rev").cast("double") * lit(10000.0) / tot.cast("double")).cast("long"))
      .groupBy(col("n_name"))
      .agg(count(lit(1)).cast("long").as("n_brands"),
        sum(col("share_bp") * col("share_bp")).cast("long").as("hhi8"))
      .select(col("n_name"), col("n_brands"),
        trunc4(col("hhi8").cast("double") / lit(1.0e8)).as("hhi"))
      .orderBy(col("n_name"))
  }

  /** ABC (Pareto) inventory classification: rank parts by revenue, cut
    * the cumulative share at 80% (A) and 95% (B), report each class's
    * size and revenue mass. The cut compares are pure integers
    * (cum*100 ≤ tot*80 on exact cent-basis-point sums) — no float
    * enters the classification at all.
    *
    * Scale shape: the fact table collapses to |parts| rows in one
    * partial-first aggregate; the cumulative ranking then comes from
    * the range-partitioned [[withGlobalCumSum]] — the part DIMENSION
    * still scales with the warehouse, so the old single-partition
    * cumulative window was the same 100 TB scale-killer the rank
    * family's fix removed (exact decimal cents, so the partition split
    * cannot change any prefix sum).
    */
  def abcClassification(lineitem: DataFrame): DataFrame = {
    import Num.trunc4
    Int128Sum.ensureRegistered(lineitem.sparkSession)
    val priceC = round(col("l_extendedprice") * 100d).cast("long")
    val disc1C = round((lit(1d) - col("l_discount")) * 100d).cast("long")
    val perPart = lineitem
      .groupBy(col("l_partkey"))
      .agg(Int128Sum.sumLong(priceC * disc1C, 0).cast("decimal(38,0)").as("rev"))
    withGlobalCumSum(perPart,
        Seq(col("rev").desc, col("l_partkey")), "rev", "cum", "tot")
      .withColumn("abc_class",
        when(col("cum") * 100 <= col("tot") * 80, "A")
          .when(col("cum") * 100 <= col("tot") * 95, "B")
          .otherwise("C"))
      .groupBy(col("abc_class"))
      .agg(count(lit(1)).cast("long").as("n_parts"),
        sum(col("rev")).cast("decimal(38,0)").as("class_rev"))
      .withColumn("rev_share",
        trunc4(col("class_rev").cast("double") /
          sum(col("class_rev")).over(Window.partitionBy()).cast("double")))
      .select(col("abc_class"), col("n_parts"),
        (col("class_rev").cast("double") / lit(1.0e4)).as("class_rev_cents"),
        col("rev_share"))
      .orderBy(col("abc_class"))
  }

  /** One-row categorical-association summary over the
    * segment × priority contingency (the decision layer on top of
    * [[contingencyChi2]]'s per-cell decomposition): chi-square statistic,
    * Cramér's V effect size, and mutual information (nats).
    *
    * Determinism: each cell's chi-square and MI contribution is floored
    * onto an integer 1e-8 grid and summed as longs (order-free); the
    * only libm calls are ln (snapped to the 1e-8 grid before the
    * product) and one final correctly-rounded sqrt.
    * Scale shape: one fact aggregate to |R×C| cells; everything after
    * is window math over ~35 rows.
    */
  def associationStats(orders: DataFrame, customer: DataFrame): DataFrame = {
    import Num.{trunc4, trunc8}
    val cells = orders
      .join(broadcast(customer.select(col("c_custkey"), col("c_mktsegment"))),
        col("o_custkey") === col("c_custkey"))
      .groupBy(col("c_mktsegment").as("segment"), col("o_orderpriority").as("priority"))
      .agg(count(lit(1)).cast("long").as("obs"))
    val rowT = sum(col("obs")).over(Window.partitionBy(col("segment"))).cast("long")
    val colT = sum(col("obs")).over(Window.partitionBy(col("priority"))).cast("long")
    val totT = sum(col("obs")).over(Window.partitionBy()).cast("long")
    val nR = size(collect_set(col("segment")).over(Window.partitionBy())).cast("long")
    val nC = size(collect_set(col("priority")).over(Window.partitionBy())).cast("long")
    val m = cells
      .withColumn("rt", rowT).withColumn("ct", colT).withColumn("nt", totT)
      .withColumn("nr", nR).withColumn("nc", nC)
    val obsD = col("obs").cast("double")
    val ntD = col("nt").cast("double")
    val expC = col("rt").cast("double") * col("ct").cast("double") / ntD
    val dev = obsD - expC
    val chiCell8 = floor(dev * dev / expC * lit(1.0e8)).cast("long")
    val lnRatio = trunc8(log(obsD * ntD / (col("rt").cast("double") * col("ct").cast("double"))))
    val miCell8 = floor(obsD / ntD * lnRatio * lit(1.0e8)).cast("long")
    m.select(col("nt"), col("nr"), col("nc"),
      chiCell8.as("chi8"), miCell8.as("mi8"))
      .groupBy(col("nt"), col("nr"), col("nc"))
      .agg(sum(col("chi8")).cast("long").as("chi2s8"),
        sum(col("mi8")).cast("long").as("mis8"))
      .select(
        col("nt").as("n_total"),
        ((col("nr") - 1) * (col("nc") - 1)).as("dof"),
        trunc4(col("chi2s8").cast("double") / lit(1.0e8)).as("chi2"),
        trunc4(sqrt(col("chi2s8").cast("double") / lit(1.0e8) /
          (col("nt").cast("double") * least(col("nr") - 1, col("nc") - 1).cast("double"))))
          .as("cramers_v"),
        trunc4(col("mis8").cast("double") / lit(1.0e8)).as("mutual_info_nats"))
  }

  /** Lagged cross-correlation between the daily ORDER COUNT series and
    * the daily REVENUE series (k = 0..maxLag, count leading): does
    * order volume predict revenue k days ahead? Same exact-integer
    * deviation trick as [[revenueAutocorr]] — dev = n·x − Σx held as
    * decimal(38,0), so every product and sum is exact and order-free;
    * the only floats are the final ratio and one correctly-rounded
    * sqrt of an exact product.
    */
  def crossCorrelation(orders: DataFrame, maxLag: Int = 7): DataFrame = {
    import Num.trunc4
    require(maxLag >= 0, s"maxLag=$maxLag out of range")
    Int128Sum.ensureRegistered(orders.sparkSession)
    val wRn = Window.orderBy(col("day"))
    val daily = orders
      .groupBy(to_date(col("o_orderdate")).as("day"))
      .agg(count(lit(1)).cast("long").as("cnt"),
        Int128Sum.sumLong(round(col("o_totalprice") * 100d).cast("long"), 0)
          .cast("long").as("cents"))
    val tot = daily.agg(
      sum(col("cnt")).cast("decimal(38,0)").as("sx"),
      sum(col("cents")).cast("decimal(38,0)").as("sy"),
      count(lit(1)).cast("decimal(38,0)").as("nn"))
    val dev = daily
      .withColumn("rn", row_number().over(wRn))
      .crossJoin(broadcast(tot))
      .select(col("rn"),
        (col("nn") * col("cnt").cast("decimal(38,0)") - col("sx")).as("devx"),
        (col("nn") * col("cents").cast("decimal(38,0)") - col("sy")).as("devy"))
      .localCheckpoint(false) // referenced 3x below; one window pass only
    val den = dev.agg(
      sum(col("devx") * col("devx")).as("denx"),
      sum(col("devy") * col("devy")).as("deny"))
    val ks = orders.sparkSession.range(0, maxLag + 1).toDF("k")
    val num = dev
      .crossJoin(broadcast(ks))
      .select(col("k"), (col("rn") + col("k")).as("rn2"), col("devx").as("dev_a"))
      .join(dev.select(col("rn").as("rn2"), col("devy").as("dev_b")), "rn2")
      .groupBy(col("k"))
      .agg(count(lit(1)).as("n_pairs"), sum(col("dev_a") * col("dev_b")).as("num"))
    num.crossJoin(broadcast(den))
      .select(col("k"), col("n_pairs"),
        trunc4(col("num").cast("double") /
          sqrt(col("denx").cast("double") * col("deny").cast("double"))).as("cc4"))
      .orderBy(col("k"))
  }

  /** Monthly new-vs-returning customer split: for each order month, how
    * many distinct customers placed their FIRST-ever order that month
    * vs how many were returning, plus the order volume each group
    * drove. The growth-accounting read behind every acquisition
    * dashboard. Exact integer/date arithmetic end to end.
    *
    * Scale shape: one aggregate to |customers| first-order months, one
    * broadcast-free co-shuffled join back on custkey (both sides hash
    * on o_custkey), then a reaggregate to |months| rows.
    */
  /** Two-feature ordinary least squares via the closed-form normal
    * equations (Cramer's rule on the 3×3 moment matrix): order total
    * (cents) regressed on line count and total quantity — "how much
    * does one more line vs one more unit move the bill". Extends
    * [[revenueTrendOls]]-style single-feature fits to MULTIPLE
    * regression without any iterative solver.
    *
    * Determinism: every moment (Σx, Σx², Σxy, …) is an exact
    * DECIMAL(38,0) sum of integer products — order-free in any engine —
    * then cast once to double (correctly rounded in both engines);
    * the Cramer determinants and divisions are a fixed IEEE expression
    * tree over those ten doubles, mirrored token-for-token in the
    * oracle; outputs are trunc4'd.
    * Scale shape: one co-partitioned lineitem→orders join (both sides
    * hash on the order key), one partial-first aggregate to a single
    * moment row; the algebra is O(1).
    */
  def mlr2(orders: DataFrame, lineitem: DataFrame): DataFrame = {
    import Num.trunc4
    val perOrder = lineitem
      .groupBy(col("l_orderkey"))
      .agg(count(lit(1)).cast("long").as("x1"),
        sum(col("l_quantity").cast("long")).cast("long").as("x2"))
      .join(orders.select(col("o_orderkey"),
        round(col("o_totalprice") * 100d).cast("long").as("y")),
        col("l_orderkey") === col("o_orderkey"))
    val dec = (c: org.apache.spark.sql.Column) => c.cast("decimal(38,0)")
    val m = perOrder.agg(
      count(lit(1)).cast("decimal(38,0)").as("n"),
      sum(dec(col("x1"))).as("s1"), sum(dec(col("x2"))).as("s2"),
      sum(dec(col("y"))).as("sy"),
      sum(dec(col("x1")) * col("x1")).as("s11"),
      sum(dec(col("x1")) * col("x2")).as("s12"),
      sum(dec(col("x2")) * col("x2")).as("s22"),
      sum(dec(col("x1")) * col("y")).as("s1y"),
      sum(dec(col("x2")) * col("y")).as("s2y"),
      sum(dec(col("y")) * col("y")).as("syy"))
    val d = m.select(Seq("n", "s1", "s2", "sy", "s11", "s12", "s22", "s1y", "s2y", "syy")
      .map(c => col(c).cast("double").as(c)): _*)
    val det = col("n") * (col("s11") * col("s22") - col("s12") * col("s12")) -
      col("s1") * (col("s1") * col("s22") - col("s12") * col("s2")) +
      col("s2") * (col("s1") * col("s12") - col("s11") * col("s2"))
    val det0 = col("sy") * (col("s11") * col("s22") - col("s12") * col("s12")) -
      col("s1") * (col("s1y") * col("s22") - col("s12") * col("s2y")) +
      col("s2") * (col("s1y") * col("s12") - col("s11") * col("s2y"))
    val det1 = col("n") * (col("s1y") * col("s22") - col("s12") * col("s2y")) -
      col("sy") * (col("s1") * col("s22") - col("s12") * col("s2")) +
      col("s2") * (col("s1") * col("s2y") - col("s1y") * col("s2"))
    val det2 = col("n") * (col("s11") * col("s2y") - col("s1y") * col("s12")) -
      col("s1") * (col("s1") * col("s2y") - col("s1y") * col("s2")) +
      col("sy") * (col("s1") * col("s12") - col("s11") * col("s2"))
    val withB = d
      .withColumn("b0", det0 / det)
      .withColumn("b1", det1 / det)
      .withColumn("b2", det2 / det)
    val sse = col("syy") - col("b0") * col("sy") - col("b1") * col("s1y") -
      col("b2") * col("s2y")
    val sst = col("syy") - col("sy") * col("sy") / col("n")
    withB.select(
      col("n").cast("long").as("n_orders"),
      trunc4(col("b0")).as("b0_cents"),
      trunc4(col("b1")).as("b1_cents_per_line"),
      trunc4(col("b2")).as("b2_cents_per_unit"),
      trunc4(lit(1.0) - sse / sst).as("r2"))
  }

  /** Laspeyres + Paasche + Fisher monthly price indices over the same
    * base-month basket frame as [[priceIndexLaspeyres]]. Laspeyres
    * weights by BASE-month quantities (overstates inflation as buyers
    * substitute away from risers), Paasche by CURRENT-month quantities
    * (understates it), Fisher is their geometric mean — the
    * "ideal" index (Fisher 1922, public literature). One extra pair of
    * sums per group over the identical join, so the plan cost is the
    * Laspeyres plan: per-(part,month) partial aggregate, broadcast
    * 1-row base month, partial-first final aggregate. Unit prices are
    * exact 1e-6-scaled integers; the four basket sums stay exact in
    * decimal(38,0) (mirrors DuckDB's hugeint); doubles appear only in
    * the two final divisions and the IEEE-correct sqrt.
    */
  def priceIndexFisher(lineitem: DataFrame): DataFrame = {
    import Num.trunc4
    // persist lifetime: see priceIndexLaspeyres
    val pm = partMonthPrices(lineitem).persist()
    val baseQ = baseMonthBasket(pm)
    def dec(c: Column) = c.cast("decimal(19,0)")
    // SHUFFLE_HASH on the base-basket side — see priceIndexLaspeyres
    val g = pm.join(baseQ.hint("SHUFFLE_HASH"), "part")
      .groupBy(col("month"))
      .agg(count(lit(1)).as("n_parts"),
        sum(dec(col("qb")) * dec(col("up6"))).as("lnum"),
        sum(dec(col("qb")) * dec(col("ub6"))).as("lden"),
        sum(dec(col("qty")) * dec(col("up6"))).as("pnum"),
        sum(dec(col("qty")) * dec(col("ub6"))).as("pden"))
    val l = col("lnum").cast("double") / col("lden").cast("double")
    val p = col("pnum").cast("double") / col("pden").cast("double")
    g.select(col("month"), col("n_parts"),
      trunc4(l).as("laspeyres4"),
      trunc4(p).as("paasche4"),
      trunc4(sqrt(l * p)).as("fisher4"))
      .orderBy(col("month"))
  }

  /** Kendall tau-b rank correlation between per-nation order count and
    * per-nation revenue. Complements [[spearmanSpend]]: tau is a
    * PAIRWISE concordance statistic — robust to any monotone transform
    * and with a direct probabilistic reading (P(concordant) −
    * P(discordant)) — where Spearman is a moment statistic on ranks.
    * Tau is O(n²) in the general case, so the scale contract is:
    * aggregate FIRST (the shuffle reduces the fact table to |nations|
    * rows), then the all-pairs self-join runs on the tiny aggregated
    * frame (broadcast, no shuffle). Concordance is decided by sign
    * COMPARISONS, never by (Δx·Δy) products, so nothing can overflow at
    * any scale. Ties use the tau-b correction: n1 = x-tied pairs,
    * n2 = y-tied pairs, tau_b = (C−D)/sqrt((n0−n1)(n0−n2)) — all-long
    * arithmetic until the final sqrt/division.
    */
  def kendallTauNation(orders: DataFrame, customer: DataFrame): DataFrame = {
    import Num.trunc4
    val per = orders.join(customer, col("o_custkey") === col("c_custkey"))
      .groupBy(col("c_nationkey").as("nation"))
      .agg(count(lit(1)).cast("long").as("x"),
        sum(round(col("o_totalprice") * 100d).cast("long")).cast("long").as("y"))
    val a = per.select(col("nation").as("na"), col("x").as("xa"), col("y").as("ya"))
    val b = per.select(col("nation").as("nb"), col("x").as("xb"), col("y").as("yb"))
    val pairs = a.join(broadcast(b), col("na") < col("nb"))
    val s = pairs.agg(
      sum(when((col("xa") < col("xb") && col("ya") < col("yb")) ||
        (col("xa") > col("xb") && col("ya") > col("yb")), 1L).otherwise(0L))
        .cast("long").as("c"),
      sum(when((col("xa") < col("xb") && col("ya") > col("yb")) ||
        (col("xa") > col("xb") && col("ya") < col("yb")), 1L).otherwise(0L))
        .cast("long").as("d"),
      sum(when(col("xa") === col("xb"), 1L).otherwise(0L)).cast("long").as("tx"),
      sum(when(col("ya") === col("yb"), 1L).otherwise(0L)).cast("long").as("ty"),
      count(lit(1)).cast("long").as("n0"))
    s.select(
      col("n0").as("n_pairs"), col("c").as("concordant"), col("d").as("discordant"),
      trunc4((col("c") - col("d")).cast("double") /
        sqrt(((col("n0") - col("tx")) * (col("n0") - col("ty"))).cast("double")))
        .as("tau_b4"))
  }

  /** Cramér's V association strength for the segment × priority
    * contingency table — the single-number summary [[contingencyChi2]]
    * decomposes per cell. Each cell's chi-square contribution is
    * snapped to an exact 1e-8-scaled long BEFORE the total sum, so the
    * cross-cell addition is integer (order-independent across
    * partitions and engines); V = sqrt(chi2 / (n·min(r−1, k−1))).
    * Same plan as the chi2 screen: one partial-first cell count, window
    * margins over the |r·k|-row cell frame, one tiny final aggregate.
    */
  def cramersV(orders: DataFrame, customer: DataFrame): DataFrame = {
    import Num.trunc4
    val cells = orders.join(customer, col("o_custkey") === col("c_custkey"))
      .groupBy(col("c_mktsegment").as("segment"),
        col("o_orderpriority").as("priority"))
      .agg(count(lit(1)).cast("long").as("obs"))
    val m = cells.select(col("segment"), col("priority"), col("obs"),
      sum(col("obs")).over(Window.partitionBy(col("segment"))).cast("long").as("rt"),
      sum(col("obs")).over(Window.partitionBy(col("priority"))).cast("long").as("ct"),
      sum(col("obs")).over(Window.partitionBy()).cast("long").as("n"))
    val e = col("rt").cast("double") * col("ct").cast("double") / col("n").cast("double")
    val contrib = (col("obs").cast("double") - e) * (col("obs").cast("double") - e) / e
    val s = m.select(col("segment"), col("priority"), col("n"),
      floor(contrib * lit(1.0e8)).cast("long").as("c8"))
      .groupBy()
      .agg(max(col("n")).as("n_total"),
        countDistinct(col("segment")).cast("long").as("r_levels"),
        countDistinct(col("priority")).cast("long").as("c_levels"),
        sum(col("c8")).cast("long").as("chi8"))
    val chi2 = col("chi8").cast("double") / 1.0e8
    val dof = least(col("r_levels") - 1L, col("c_levels") - 1L)
    s.select(col("n_total"), col("r_levels"), col("c_levels"),
      trunc4(chi2).as("chi2_4"),
      trunc4(sqrt(chi2 / (col("n_total") * dof).cast("double"))).as("cramers_v4"))
  }

  /** Decile lift table: customers banded by the 9 exact account-balance
    * decile BOUNDARIES, each band's buy-rate compared to the overall
    * rate — the campaign-targeting read ("does balance predict
    * purchase, and where does the lift concentrate"). Banding is by
    * VALUE against broadcast boundaries, not by rank position — equal
    * balances always land in the same band (no arbitrary tie split),
    * and the assignment is one broadcast join + 9 codegen'd compares,
    * never a global window. Boundaries come from
    * [[groupedExactPercentiles]] (distributed bucketed sort, bit-equal
    * to DuckDB quantile_cont); rate and lift are exact-integer
    * cross-ratios truncated only at output.
    */
  def decileLift(customer: DataFrame, orders: DataFrame): DataFrame = {
    import Num.trunc4
    val ps = (1 to 9).map(_ / 10.0)
    val names = (1 to 9).map(i => s"d$i")
    val bounds = groupedExactPercentiles(
      customer.select(lit(1).as("g"), col("c_acctbal"), col("c_custkey")),
      "c_acctbal", "g", ps, names)
      .select(names.map(col): _*)
    val buyers = orders.select(col("o_custkey")).distinct()
      .withColumn("bought", lit(1L))
    val banded = customer
      .join(buyers, col("c_custkey") === col("o_custkey"), "left")
      .crossJoin(broadcast(bounds))
      .withColumn("decile",
        names.map(n => when(col("c_acctbal") > col(n), 1L).otherwise(0L))
          .reduce(_ + _) + 1L)
    val per = banded.groupBy(col("decile"))
      .agg(count(lit(1)).cast("long").as("n_customers"),
        sum(coalesce(col("bought"), lit(0L))).cast("long").as("n_buyers"))
    val w = Window.partitionBy()
    per.select(col("decile"), col("n_customers"), col("n_buyers"),
      sum(col("n_customers")).over(w).cast("long").as("tot_n"),
      sum(col("n_buyers")).over(w).cast("long").as("tot_b"))
      .select(col("decile"), col("n_customers"), col("n_buyers"),
        trunc4(col("n_buyers").cast("double") / col("n_customers").cast("double"))
          .as("buy_rate4"),
        trunc4((col("n_buyers") * col("tot_n")).cast("double") /
          (col("n_customers") * col("tot_b")).cast("double")).as("lift4"))
      .orderBy(col("decile"))
  }

  /** Supervised-learning feature frame over daily revenue: one row per
    * day with the regression target and its standard autoregressive
    * features — lag-1, lag-7 (same weekday last week), the trailing
    * 7-day mean, and the weekday index. This is the feature-engineering
    * hand-off an ML forecasting pipeline consumes, stated as a single
    * declarative plan: one partial-first daily aggregate, one ordered
    * window pass over the |days|-row frame (bounded by the calendar,
    * never by order volume). The trailing mean is an exact integer
    * cents division; day counts start after a 7-day warm-up so every
    * emitted row has a complete feature vector (no null-punched
    * training rows).
    */
  def featureFrame(orders: DataFrame): DataFrame = {
    val daily = orders
      .groupBy(to_date(col("o_orderdate")).as("day"))
      .agg(sum(round(col("o_totalprice") * 100d).cast("long")).cast("long").as("cents"))
    val w = Window.orderBy(col("day"))
    val prior7 = w.rowsBetween(-7, -1)
    daily
      .withColumn("rn", row_number().over(w))
      .withColumn("l1", lag(col("cents"), 1).over(w))
      .withColumn("l7", lag(col("cents"), 7).over(w))
      .withColumn("s7", sum(col("cents")).over(prior7).cast("long"))
      .filter(col("rn") > 7)
      .select(col("day"),
        (col("cents").cast("double") / 100.0).as("y"),
        (col("l1").cast("double") / 100.0).as("lag1"),
        (col("l7").cast("double") / 100.0).as("lag7"),
        (expr("s7 div 7").cast("double") / 100.0).as("ma7"),
        weekday(col("day")).cast("long").as("dow"))
      .orderBy(col("day"))
  }

  /** New-vs-returning customers per month.
    *
    * Shape (r11): one partial-first aggregate to the (custkey, month)
    * grain — which IS the distinct set both countDistincts need, one
    * row per pair, carrying the month's order count — then a min-month
    * window per customer and a plain SUM aggregate per month. The
    * previous formulation joined the fact table against a per-customer
    * first-month aggregate and ran TWO countDistincts, which Spark
    * plans as an Expand (3 rows shuffled per input row) — at corpus
    * scale that is 3x fact-table shuffle bytes plus a fact-sized join;
    * here the only fact-sized step is the first partial aggregate, and
    * everything after runs on the |customer x month| frame. Same
    * values: the pair grain has exactly one row per (custkey, month),
    * so a conditional SUM over pairs equals a conditional COUNT
    * DISTINCT over orders; the null-custkey filter reproduces the old
    * inner join's null-dropping. Measured 0.61 -> 0.38s interleaved
    * medians at sf0.1 (5 pairs, same JVM).
    */
  def newVsReturning(orders: DataFrame): DataFrame = {
    val monthExpr = date_trunc("month", to_date(col("o_orderdate"))).cast("date")
    val per = orders
      .where(col("o_custkey").isNotNull)
      .select(col("o_custkey"), monthExpr.as("om"))
      .groupBy(col("o_custkey"), col("om"))
      .agg(count(lit(1)).as("n_ord"))
    val w = Window.partitionBy(col("o_custkey"))
    per
      .withColumn("first_month", min(col("om")).over(w))
      .groupBy(col("om").as("month"))
      .agg(
        sum(when(col("om") === col("first_month"), 1L).otherwise(0L))
          .cast("long").as("n_new"),
        sum(when(col("om") > col("first_month"), 1L).otherwise(0L))
          .cast("long").as("n_returning"),
        sum(col("n_ord")).cast("long").as("n_orders"))
      .orderBy(col("month"))
  }
}
