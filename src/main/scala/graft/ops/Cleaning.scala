package graft.ops

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.{col, row_number}

/** Cleaning transforms (reference: simple_etl.py:150-210, SURVEY.md §2.2
  * T1-T2). Pure `DataFrame => DataFrame`; no action is triggered here —
  * the reference ran two `count()` actions per dedup just to report a
  * removed-rows number (simple_etl.py:204-206); we leave counting to the
  * caller so the plan stays lazy.
  */
object Cleaning {

  /** T1 — fill nulls across all columns: string columns get `text`,
    * numeric columns get `num` (reference: simple_etl.py:192-199 does
    * `na.fill(fill_val)` then `na.fill(0)`; Spark's typed fill already
    * restricts each call to matching column types, so semantics are
    * preserved for free).
    */
  def fillNulls(df: DataFrame, text: String = "UNKNOWN", num: Double = 0d): DataFrame =
    df.na.fill(text).na.fill(num)

  /** T2 — exact deduplication over all columns
    * (reference: simple_etl.py:203-210, `df.dropDuplicates()`).
    * Distributed cost model: one hash shuffle on all columns; at scale
    * prefer `dedupByKey` below when a subset of columns identifies a row
    * (smaller shuffle key, map-side partial dedup).
    */
  def dedup(df: DataFrame): DataFrame = df.dropDuplicates()

  /** T2 (keyed variant) — dedup on a subset of columns; keeps an
    * arbitrary row per key, matching `dropDuplicates(cols)` semantics.
    */
  def dedupByKey(df: DataFrame, cols: Seq[String]): DataFrame =
    df.dropDuplicates(cols)

  /** Removed-row count for UIs that need the reference's report line
    * (simple_etl.py:207). Two actions — call sparingly.
    */
  def dedupRemovedCount(df: DataFrame): Long = df.count() - df.dropDuplicates().count()

  /** DETERMINISTIC keyed dedup: keep the row with the greatest
    * (orderCol, tieCol) per key — the CDC keep-latest rule.
    * [[dedupByKey]] keeps an ARBITRARY row (dropDuplicates semantics:
    * whichever arrives first in the aggregate), which is fine for exact
    * duplicates but wrong for change streams where the winner matters;
    * this variant is reproducible across runs, partitionings, and
    * engines. One row_number window — shuffle on the key columns only.
    */
  def latestByKey(
      df: DataFrame,
      keys: Seq[String],
      orderCol: String,
      tieCol: String): DataFrame = {
    require(keys.nonEmpty, "latestByKey needs at least one key column")
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(keys.map(col): _*)
      .orderBy(col(orderCol).desc, col(tieCol).desc)
    df.withColumn("__rn", row_number().over(w))
      .filter(col("__rn") === 1)
      .drop("__rn")
  }

  /** Deterministic stratified sample — the training-data curation op
    * (downsample dominant languages/sources, keep rare strata): keep
    * `fractions(stratum)` (default `defaultFraction`) of each group,
    * selected by Knuth's multiplicative hash of the row KEY rather than
    * `rand()`. Hash selection makes the sample (a) reproducible across
    * runs, cluster layouts, and partitionings; (b) stable under
    * re-appends (a row's fate never changes); (c) pure integer
    * arithmetic, so any engine computes the identical sample — which is
    * how the oracle checks it. Fully map-side: filter fuses into the
    * scan, no shuffle, no sampling state.
    *
    * Contract: the key must be NON-NEGATIVE (ids, hashes). The key is
    * reduced mod 2^31 before the multiply so `key * 2654435761` cannot
    * overflow int64 (2^31 * 2654435761 ≈ 5.7e18 < 2^63): both engines
    * stay in exact integer range instead of Spark wrapping silently
    * where an ANSI engine would error. For negative keys Spark's pmod
    * and SQL `%` disagree on sign, so the cross-engine-identical claim
    * holds only for the documented non-negative domain.
    */
  def stratifiedSample(
      df: DataFrame,
      strataCol: String,
      keyCol: String,
      fractions: Map[String, Double],
      defaultFraction: Double = 0.0): DataFrame = {
    import org.apache.spark.sql.functions._
    val u = pmod(pmod(col(keyCol).cast("long"), lit(2147483648L)) * lit(2654435761L),
      lit(4294967296L))
    val frac = fractions.foldLeft(lit(defaultFraction)) { case (acc, (k, f)) =>
      when(col(strataCol) === k, lit(f)).otherwise(acc)
    }
    df.filter(u < frac * lit(4294967296L))
  }

  /** Consistent FIXED-SIZE sample: the `k` rows with the smallest
    * Knuth multiplicative hash of the key (ties by key). Deterministic
    * and engine-neutral like [[stratifiedSample]], but guarantees an
    * exact sample size instead of an expected fraction — the shape for
    * "give me 10k rows to eyeball/profile" on any corpus size.
    *
    * Scale shape: TakeOrderedAndProject — each partition offers only
    * its local k smallest hashes, the driver merges; no global sort,
    * no shuffle of the data. Append-stable: new rows enter the sample
    * only by displacing the current max-hash member, so the sample
    * drifts minimally as the table grows (the bottom-k-by-hash sketch
    * underlying consistent sampling). Non-negative integer keys, as
    * with the other hash-keyed samplers here.
    */
  def sampleFixedK(df: DataFrame, keyCol: String, k: Int): DataFrame = {
    import org.apache.spark.sql.functions._
    require(k > 0, s"k=$k must be positive")
    val u = pmod(pmod(col(keyCol).cast("long"), lit(2147483648L)) * lit(2654435761L),
      lit(4294967296L))
    df.withColumn("__h", u)
      .orderBy(col("__h"), col(keyCol))
      .limit(k)
      .drop("__h")
      .orderBy(col(keyCol))
  }
}
