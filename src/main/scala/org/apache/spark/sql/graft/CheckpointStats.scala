package org.apache.spark.sql.graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.plans.physical.HashPartitioning
import org.apache.spark.sql.classic.{Dataset, SparkSession => ClassicSession}
import org.apache.spark.sql.execution.LogicalRDD
import org.apache.spark.sql.internal.SQLConf

/** Catalyst plumbing that needs `private[sql]` access (`Dataset.ofRows`), so
  * it lives in an `org.apache.spark.sql` subpackage — a plain shim over the
  * public Apache Spark source, nothing else.
  *
  * Why it exists: `Dataset.localCheckpoint` copies the ORIGIN plan's
  * statistics into the new `LogicalRDD` (`LogicalRDD.fromDataset` captures
  * `optimizedPlan.stats` as `originStats`). For an iterative algorithm whose
  * superstep references the previous state TWICE — e.g. a BFS superstep that
  * extracts the frontier from the state AND joins aggregated messages back
  * into it — join size estimates MULTIPLY, so the inherited stats SQUARE
  * every superstep: sizeInBytes becomes a BigInt whose digit count doubles
  * per iteration, and the eager stats capture inside the next checkpoint
  * call ends up multiplying million-digit numbers on the driver (serial,
  * unbounded). That is exactly the cost that blocked the co-partitioned
  * state⋈messages superstep in round 3.
  *
  * [[strip]] rebuilds the checkpointed frame with `originStats` and
  * `originConstraints` dropped — size estimates reset to
  * `spark.sql.defaultSizeInBytes` at every checkpoint boundary, so nothing
  * compounds — while KEEPING the checkpointed RDD, schema, output
  * partitioning and ordering. Keeping `outputPartitioning` is the point:
  * a state frame that a join or aggregate left hash-partitioned on its key
  * stays recognizably co-partitioned, and the next superstep's
  * state⋈messages join needs no state-side exchange.
  *
  * Joins over a stripped frame see `defaultSizeInBytes` (Long.MaxValue), so
  * Catalyst will never auto-broadcast it and `preferSortMergeJoin=false`
  * alone no longer selects shuffled-hash (`canBuildLocalHashMap` fails on
  * unknown sizes) — loop joins over stripped state must say
  * `.hint("shuffle_hash")` explicitly. Explicit `broadcast(...)` hints are
  * unaffected.
  *
  * [[cloneSession]] and [[bind]] (`private[sql]` `cloneSession` and
  * `Dataset.ofRows`) are the session shims behind
  * `graft.core.Supersteps.session`: every superstep loop runs on a loop
  * session cloned from the caller's, one per algorithm run (plus the
  * bitset session of a run's bitset visits).
  */
object CheckpointStats {

  /** Drop inherited `originStats`/`originConstraints` from a checkpointed
    * frame, keeping RDD + partitioning + ordering. No-op for plans that are
    * not a bare `LogicalRDD` (e.g. a `DirMaterializer` parquet round-trip,
    * whose scan stats are real file sizes and reset naturally).
    */
  def strip(df: DataFrame): DataFrame = rebuild(df, None)

  /** [[strip]], additionally ASSERTING that the checkpointed rows are
    * hash-partitioned by `keys` with the RDD's own partition count.
    *
    * Why assert instead of keep: a full-outer USING join emits
    * `coalesce(l.k, r.k) AS k` — a fresh attribute Catalyst cannot trace to
    * either side's partitioning — so `Dataset.localCheckpoint` records
    * `UnknownPartitioning` even though every output row physically sits in
    * the partition `hash(keys)` selected by the join's own exchanges
    * (coalesce of two join keys that are equal-or-absent IS the key). The
    * caller must guarantee exactly that invariant: the frame is the
    * (projected) output of a co-partitioned join/aggregate keyed on `keys`,
    * planned with AQE off (coalesced or skew-split partitions are NOT a
    * `HashPartitioning` — asserting one over them would silently misjoin)
    * and with `requireAllClusterKeysForCoPartition` on (off, a join on
    * `keys` may keep a side's placement on a subset of them). Used by the
    * MultiBfs superstep loop, whose session pins both
    * (`graft.core.Supersteps.session`). No-op for plans that are not a
    * bare `LogicalRDD`.
    *
    * @throws IllegalStateException if the frame's session has AQE on or
    *         the co-partitioning rule off — the misuses that would
    *         otherwise misjoin silently.
    */
  def stripHashPartitioned(df: DataFrame, keys: Seq[String]): DataFrame = {
    val conf = df.sparkSession.asInstanceOf[ClassicSession].sessionState.conf
    if (conf.adaptiveExecutionEnabled)
      throw new IllegalStateException(
        "stripHashPartitioned: spark.sql.adaptive.enabled is true; the asserted " +
          "hash partitioning is only valid for frames planned with AQE off")
    if (!conf.getConf(SQLConf.REQUIRE_ALL_CLUSTER_KEYS_FOR_CO_PARTITION))
      throw new IllegalStateException(
        "stripHashPartitioned: spark.sql.requireAllClusterKeysForCoPartition is false; " +
          "the asserted hash partitioning is only valid for frames planned with it true")
    rebuild(df, Some(keys))
  }

  /** The one `LogicalRDD` rebuild: no origin stats or constraints, and the
    * RDD's own partitioning, or hash(`keys`) over its partition count.
    */
  private def rebuild(df: DataFrame, keys: Option[Seq[String]]): DataFrame =
    df.queryExecution.logical match {
      case lr: LogicalRDD =>
        val spark = df.sparkSession.asInstanceOf[ClassicSession]
        val partitioning = keys.fold(lr.outputPartitioning) { ks =>
          HashPartitioning(ks.map(k => lr.output.find(_.name == k).getOrElse(
            throw new IllegalArgumentException(
              s"stripHashPartitioned: no column '$k' in ${lr.output.map(_.name)}"))),
            lr.rdd.getNumPartitions)
        }
        Dataset.ofRows(spark, LogicalRDD(lr.output, lr.rdd, partitioning,
          lr.outputOrdering, lr.isStreaming, lr.stream)(spark, None, None))
      case _ => df
    }

  /** A new session over `spark`'s SparkContext and shared state (so its
    * CacheManager too) that starts with a copy of every conf of `spark`:
    * a conf set on one never reaches the other.
    */
  def cloneSession(spark: SparkSession): SparkSession =
    spark.asInstanceOf[ClassicSession].cloneSession()

  /** `df`'s analyzed plan as a frame of `spark`: later operators on it are
    * planned, and its actions run, under `spark`'s confs.
    */
  def bind(df: DataFrame, spark: SparkSession): DataFrame =
    if (df.sparkSession eq spark) df
    else Dataset.ofRows(spark.asInstanceOf[ClassicSession], df.queryExecution.analyzed)
}
