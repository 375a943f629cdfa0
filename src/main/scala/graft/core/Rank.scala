package graft.core

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Distributed global ranking / top-k — replacements for the unpartitioned
  * `row_number().over(Window.orderBy(...))` pattern, which funnels every row
  * through ONE task (the classic 100×-scale killer: at 10^9+ rows a
  * single-partition sort is the whole job).
  *
  * `globalRank` is two-pass range minting (the GraphBuilder.java:17-33 dense
  * relabel, done distributed): range-partition by the sort key, sort within
  * partitions, number rows per partition via `monotonically_increasing_id`
  * (= partitionId·2^33 + local row index, assigned AFTER the sort in the
  * same stage), then add per-partition prefix-sum offsets. The offsets are
  * ≤ numShufflePartitions scalars — computed on the driver, like the
  * reference's cumulative-count pass, and added from an array literal — so
  * the plan contains NO single-partition exchange at any row count.
  *
  * Correctness does not depend on where the range boundaries fall: the
  * concatenation of (range-ordered partitions, each sorted) IS the total
  * order, so offset + local index = global 0-based rank for any boundary
  * placement the sampler picks.
  */
object Rank {

  /** Adds 0-based dense column `posCol` = global rank of the row under
    * `order` (which must be a total order — include a unique tiebreaker).
    * The input is materialized (localCheckpoint) as part of ranking; the
    * returned frame is safe to reuse.
    */
  def globalRank(df: DataFrame, posCol: String, order: Column*): DataFrame = {
    val spark = df.sparkSession
    val parts = spark.sessionState.conf.numShufflePartitions
    val ranged = df
      .repartitionByRange(parts, order: _*)
      .sortWithinPartitions(order: _*)
      .withColumn("__mid", monotonically_increasing_id())
      .localCheckpoint(true)
    // per-partition (count, base-mid): ≤ `parts` rows → prefix sums on the
    // driver (scalars only), added from an array literal indexed by
    // partition: no join, so a read of the result submits no broadcast job
    val stats = ranged
      .groupBy(shiftright(col("__mid"), 33).as("__part"))
      .agg(count(lit(1)).as("__cnt"), min("__mid").as("__base"))
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
      .sortBy(_._1)
    val shift = new Array[Long](parts)
    var acc = 0L
    stats.foreach { case (part, cnt, base) => shift(part.toInt) = acc - base; acc += cnt }
    ranged
      .withColumn(posCol, col("__mid") +
        element_at(typedLit(shift.toSeq), shiftright(col("__mid"), 33).cast("int") + 1))
      .drop("__mid")
  }

  /** `rank() <= k` with tie extension, distributed: TakeOrderedAndProject
    * (orderBy.limit — per-partition top-k then a k-row merge) finds the k-th
    * boundary value; the tie-extending filter is a plain scan predicate.
    * Exactly equivalent to the unpartitioned
    * `rank().over(Window.orderBy(order)) <= k` (a row ties rank ≤ k iff its
    * value is no worse than the k-th best), with no single-partition sort of
    * the full relation. `valueOrder` must order by the ranking value alone.
    *
    * PRECONDITIONS (callers must hold both — the window form would too, but
    * differently): `df` must be DETERMINISTIC across executions, because it
    * is evaluated twice (boundary collect, then filter scan) — materialize
    * nondeterministic inputs (localCheckpoint) first; and the ranking value
    * must be NON-NULL on every row — the tie predicate drops NULLs, whereas
    * `rank()` would order them per the sort's null ordering.
    *
    * @param kth extracts the ranking value from the k-th row
    * @param keep builds the tie-extending predicate from that value
    */
  def topkWithTies(df: DataFrame, valueOrder: Seq[Column], k: Int)(
      kth: org.apache.spark.sql.Row => Any)(keep: Any => Column): DataFrame = {
    val head = df.orderBy(valueOrder: _*).limit(k).collect()
    if (head.length < k) df else df.where(keep(kth(head.last)))
  }
}
