package graft.core

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import java.nio.file.{Files, Paths, Path}

/** Per-iteration materialization for driver-side iterative algorithms.
  *
  * Iterative Dataset joins grow the Catalyst plan every superstep
  * (SURVEY.md §7.3 #1): persist() caches data but does NOT truncate the
  * logical plan, so analysis/optimization re-walks the whole lineage each
  * iteration. `localCheckpoint` (or a parquet round-trip) cuts the plan.
  *
  * Algorithms materialize per-iteration INCREMENTS (BFS: the newly-visited
  * frontier; PageRank: the new rank vector) — never rewrite accumulated
  * state, which at 100 TB would mean re-writing the world every superstep.
  *
  * No materializer frees a frame: the code that replaces a checkpoint frees
  * it, and for every superstep loop that is [[Supersteps.run]].
  *
  * Two strategies:
  *   - [[LocalMaterializer]]: `localCheckpoint` per iteration, eager from
  *     `iterate` and lazy from `iterateDeferred`; `window > 0` caps the
  *     chain length.
  *   - [[DirMaterializer]]: parquet per iteration under `dir/iter=NNNN/`
  *     plus `_graft_meta.json` (iteration, convergence metric, partition
  *     count, wall time) — the north rule's "checkpointed per-iteration with
  *     per-partition lineage and convergence metrics so runs resume
  *     mid-algorithm". Parquet writes one file per partition: that is the
  *     per-partition lineage unit a resumed run re-reads.
  */
object Materializer {
  /** Supersteps per materializing job in [[Supersteps.run]], clamped to
    * [[Materializer.chainCapacity]]: 4 amortizes the ~0.2-0.3 s serial
    * driver gap per job submission (core-count-independent; BASELINE.md
    * round 4, "fixed-cost decomposition") over four supersteps; the
    * chained-loop bench is under "chained supersteps" there.
    */
  val DefaultChain = 4

  /** Free the storage behind a `localCheckpoint`'d frame. `Dataset.unpersist`
    * only reaches CacheManager entries (persist/cache); a checkpoint's
    * storage is RDD-level, so walk the plan for its LogicalRDD nodes and
    * unpersist those RDDs directly. The frame is UNRECOVERABLE afterwards
    * (checkpointing truncated its lineage) — call only once every consumer
    * is done with it. A frame with no LogicalRDD, such as a
    * `DirMaterializer` parquet read, is left as it is.
    */
  def unpersistCheckpoint(df: DataFrame, blocking: Boolean = false): Unit =
    df.queryExecution.logical.foreach {
      case lr: org.apache.spark.sql.execution.LogicalRDD => lr.rdd.unpersist(blocking)
      case _ => ()
    }
}

trait Materializer {
  /** Materialize iteration `iter`'s increment; the returned frame's plan no
    * longer references prior iterations. `metric` is this iteration's
    * convergence figure (frontier size, L∞ delta, label flips...).
    */
  def iterate(df: DataFrame, iter: Int, metric: Double): DataFrame

  /** Materialize, then count: two jobs. No engine code calls this or
    * [[iterateCountedWhere]] — every loop starts at [[Supersteps.start]],
    * whose deferred iteration 0 is materialized and counted by the first
    * chunk's job of [[Supersteps.run]]. Both stay only because a delegating
    * materializer outside `src/main` (perfbench's timer) overrides them;
    * they go when it stops doing so.
    */
  def iterateCounted(df: DataFrame, iter: Int, metric: Double): (DataFrame, Long) = {
    val out = iterate(df, iter, metric)
    (out, out.count())
  }

  /** Like [[iterateCounted]] but counts only the rows matching `pred`. */
  def iterateCountedWhere(
      df: DataFrame, iter: Int, metric: Double, pred: Column): (DataFrame, Long) = {
    val out = iterate(df, iter, metric)
    (out, out.where(pred).count())
  }

  /** Materialize lazily where the strategy allows: the returned frame's
    * FIRST action completes materialization, so the metric job of
    * [[Supersteps.run]] — which runs every loop (MultiBfs, BitsetBfs,
    * PageRank, LabelProp, Components) and whose [[Supersteps.start]] defers
    * each loop's iteration 0 — materializes a chunk of supersteps, and in
    * the first chunk its starting state, and checks them in ONE job, not
    * checkpoint + check.
    * Default: eager (Dir strategy must write parquet regardless).
    */
  def iterateDeferred(df: DataFrame, iter: Int, metric: Double): DataFrame =
    iterate(df, iter, metric)

  /** How many [[iterateDeferred]] frames may be CHAINED — each built over
    * the previous — with no intervening action, so one downstream job
    * materializes them all. [[Supersteps.run]] chunks its supersteps at
    * `min(DefaultChain, chainCapacity)`. 1 by default (no chaining):
    * `DirMaterializer` writes eagerly with a per-iteration metric a chain
    * cannot know yet.
    */
  def chainCapacity: Int = 1

  /** Previously completed increments (iter → frame), ascending, for resume. */
  def resumeIncrements(): Seq[(Int, DataFrame)] = Seq.empty

  def close(): Unit = ()
}

/** Spark-managed local checkpoints: `iterate` is an eager `localCheckpoint`,
  * `iterateDeferred` a lazy one. `window` caps [[chainCapacity]], the
  * supersteps per job of [[Supersteps.run]]; 0 means no cap (the driver's
  * default chunk). `window = 1` is the eager loop, one superstep per job.
  * (`window` keeps its name because callers pass it by name.)
  */
final class LocalMaterializer(window: Int = 0) extends Materializer {
  override def iterate(df: DataFrame, iter: Int, metric: Double): DataFrame =
    df.localCheckpoint(true)

  override def iterateDeferred(df: DataFrame, iter: Int, metric: Double): DataFrame =
    df.localCheckpoint(false)

  override def chainCapacity: Int = if (window == 0) Int.MaxValue else window
}

final class DirMaterializer(spark: SparkSession, dir: String) extends Materializer {
  private def iterDir(i: Int): String = f"$dir/iter=$i%05d"
  private def metaPath(i: Int): Path = Paths.get(iterDir(i), "_graft_meta.json")

  override def iterate(df: DataFrame, iter: Int, metric: Double): DataFrame = {
    val d = iterDir(iter)
    df.write.mode("overwrite").parquet(d)
    // the schema is known: reading it back with it skips Parquet's footer
    // inference job (resumeIncrements has no schema and still infers)
    val out = spark.read.schema(df.schema).parquet(d)
    val parts = out.rdd.getNumPartitions
    // written only after the parquet commit ⇒ doubles as a completion flag
    Files.writeString(
      metaPath(iter),
      s"""{"iter":$iter,"metric":$metric,"partitions":$parts,"wallMs":${System.currentTimeMillis()}}""")
    out
  }

  override def resumeIncrements(): Seq[(Int, DataFrame)] = {
    val base = Paths.get(dir)
    if (!Files.isDirectory(base)) return Seq.empty
    val iters = Files.list(base).toArray.toSeq
      .map(_.toString)
      .filter(_.matches(".*iter=\\d+$"))
      .map(p => p.substring(p.lastIndexOf('=') + 1).toInt)
      .filter(i => Files.exists(metaPath(i)))
      .sorted
    iters.map(i => (i, spark.read.parquet(iterDir(i))))
  }
}
