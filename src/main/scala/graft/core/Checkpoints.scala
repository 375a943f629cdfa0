package graft.core

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import java.nio.file.{Files, Paths, Path}
import scala.collection.mutable

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
  * Two strategies:
  *   - [[LocalMaterializer]]: eager `localCheckpoint` per iteration;
  *     `window > 0` evicts all but the last `window` iterations (for
  *     algorithms whose state is replaced, e.g. PageRank), `window = 0`
  *     keeps everything (for accumulating state, e.g. BFS visited-set
  *     increments, which stay live until the final aggregate).
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
    * is done with it.
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
    * `min(DefaultChain, chainCapacity)`. 1 by default
    * (no chaining): `DirMaterializer` writes eagerly with a per-iteration
    * metric a chain cannot know yet, and `LocalMaterializer` with an
    * eviction window is only safe up to the window length — a longer chain
    * could evict a frame the chunk's job still needs (either not yet
    * materialized, or the chunk input whose lineage was truncated),
    * silently forfeiting its checkpoint.
    */
  def chainCapacity: Int = 1

  /** Whether later iterations free earlier ones (see [[LocalMaterializer]]). */
  private[graft] def evictsIterations: Boolean = false

  /** Previously completed increments (iter → frame), ascending, for resume. */
  def resumeIncrements(): Seq[(Int, DataFrame)] = Seq.empty

  def close(): Unit = ()
}

final class LocalMaterializer(window: Int = 0) extends Materializer {
  private val live = mutable.Queue.empty[DataFrame]
  // Deferred frames enter the eviction window only at the NEXT iterate*
  // call: by then the loop has run its materializing action (or built the
  // next state over this frame, whose own action materializes it), so the
  // window never unpersists a lazily-checkpointed frame before it
  // materialized — which would silently forfeit the checkpoint and replay
  // lineage (round-2 advice on LocalMaterializer window eviction).
  private var pending: Option[DataFrame] = None
  private def flushPending(): Unit = { pending.foreach(track); pending = None }
  private def track(out: DataFrame): DataFrame = {
    if (window > 0) {
      live.enqueue(out)
      // RDD-level unpersist: Dataset.unpersist is a no-op for checkpoints
      // (round-3 advice — the eviction window silently leaked every frame)
      while (live.size > window) Materializer.unpersistCheckpoint(live.dequeue())
    }
    out
  }
  override def iterate(df: DataFrame, iter: Int, metric: Double): DataFrame = {
    flushPending()
    track(df.localCheckpoint(true))
  }

  override def iterateDeferred(df: DataFrame, iter: Int, metric: Double): DataFrame = {
    flushPending()
    val out = df.localCheckpoint(false)
    pending = Some(out)
    out
  }

  /** Unbounded without an eviction window. With one, a chunk's materializing
    * job needs at most `window` frames alive in the window simultaneously
    * (the chunk's input state + its u−1 flushed intermediates, u ≤ window;
    * the newest frame is still pending): eviction is oldest-first, so only
    * frames from completed chunks — materialized and no longer referenced —
    * ever reach the dequeue (see trait scaladoc).
    */
  override def chainCapacity: Int = if (window == 0) Int.MaxValue else window

  override private[graft] def evictsIterations: Boolean = window > 0
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
