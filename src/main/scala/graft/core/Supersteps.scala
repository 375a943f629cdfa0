package graft.core

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** The superstep driver behind every iterative loop (MultiBfs, BitsetBfs,
  * PageRank, LabelProp, Components): level-synchronous supersteps (SURVEY.md §3.4) run
  * in CHUNKS of `min(DefaultChain, mat.chainCapacity)`. A chunk's u
  * supersteps are built as lazy checkpoints, each planned over the previous
  * one, and ONE union job materializes them all and returns every substep's
  * metric: u message exchanges per job submission and driver round trip
  * instead of one each. The per-job driver gap measured ~0.2–0.3 s, serial
  * and core-count-independent (BASELINE.md round 4, "fixed-cost
  * decomposition"; the chained-loop bench is under "chained supersteps").
  *
  * The loop keeps the state of the FIRST substep whose metric stops it, and
  * reports `(iter, metric)` for every substep up to and including that one,
  * so results and telemetry equal a chunk length of 1. The overshoot
  * substeps after it were computed by the chunk's job and are released.
  *
  * A chunk of length 1 (`DirMaterializer`, or `LocalMaterializer` with
  * `window = 1`) is the eager loop: one checkpoint and one metric job per
  * superstep, and each `DirMaterializer` iteration's metadata carries the
  * metric it records (see [[Count]]).
  */
object Supersteps {

  /** The per-substep figure a loop stops on. */
  sealed trait Metric

  /** Rows of the new state matching `pred` — a BFS frontier. A chunk's job
    * counts every substep in one union aggregate keyed by substep. An empty
    * frontier sends no messages, so counts are monotone to zero within a
    * chunk and the overshoot substeps are identity maps. The first substep
    * of a chunk records the previous count, the frontier it stepped from,
    * in its checkpoint's metadata.
    */
  final case class Count(pred: Column) extends Metric

  /** A one-row, one-column aggregate of (previous state, new state) — e.g.
    * PageRank's L∞ delta, Components' changed-edge count. A chunk's job is the union of the u one-row
    * aggregates. Checkpoints record −1.
    */
  final case class Aggregate(of: (DataFrame, DataFrame) => DataFrame) extends Metric

  /** Where the loop stopped: the kept state, its iteration, its metric. */
  final case class Result(state: DataFrame, iter: Int, metric: Double)

  /** Run supersteps from `state` (materialized, iteration `iter`) until
    * `maxIter` or a substep whose metric satisfies `stop`.
    *
    * @param step   plans the next state over a materialized one
    * @param settle applied to every checkpointed frame before it becomes the
    *               state (e.g. a stats strip)
    * @param metric the per-substep figure; None for fixed rounds, whose
    *               chunk is materialized by checkpointing its last substep
    *               eagerly
    * @param m0     the figure of `state`: tested by `stop` before the first
    *               superstep, and reported for every substep when `metric`
    *               is None
    * @param onStep (iter, state, metric) for every kept substep, in order
    */
  def run(
      mat: Materializer,
      state: DataFrame,
      iter: Int,
      maxIter: Int,
      step: DataFrame => DataFrame,
      settle: DataFrame => DataFrame = identity,
      metric: Option[Metric] = None,
      m0: Double = -1.0,
      stop: Double => Boolean = _ => false,
      onStep: (Int, DataFrame, Double) => Unit = (_, _, _) => ()): Result = {
    val chunk = math.max(1, math.min(Materializer.DefaultChain, mat.chainCapacity))
    var cur = Result(state, iter, m0)
    while (cur.iter < maxIter && !stop(cur.metric)) {
      val u = math.min(chunk, maxIter - cur.iter)
      var built = Vector.empty[DataFrame]
      for (k <- 1 to u) {
        val next = step(built.lastOption.getOrElse(cur.state))
        val i = cur.iter + k
        built :+= settle(metric match {
          // fixed rounds: the last substep's eager checkpoint is the chunk's job
          case None if k == u => mat.iterate(next, i, -1.0)
          case Some(Count(_)) if k == 1 => mat.iterateDeferred(next, i, cur.metric)
          case _ => mat.iterateDeferred(next, i, -1.0)
        })
      }
      val figures = metric.fold(Vector.fill(u)(cur.metric))(measure(_, cur.state, built))
      val kept = figures.indexWhere(stop) + 1 match { case 0 => u; case n => n }
      for (k <- 0 until kept) onStep(cur.iter + k + 1, built(k), figures(k))
      built.drop(kept).foreach(Materializer.unpersistCheckpoint(_))
      cur = Result(built(kept - 1), cur.iter + kept, figures(kept - 1))
    }
    cur
  }

  /** The chunk's one job: every substep's figure, in order. */
  private def measure(metric: Metric, prev: DataFrame, built: Vector[DataFrame]): Vector[Double] = {
    val byK = metric match {
      case Count(pred) =>
        built.zipWithIndex
          .map { case (st, i) => st.where(pred).select(lit(i + 1).as("k")) }
          .reduce(_ unionAll _)
          .groupBy("k").agg(count(lit(1)))
      case Aggregate(of) =>
        built.zipWithIndex
          .map { case (st, i) =>
            val m = of(if (i == 0) prev else built(i - 1), st)
            m.select(lit(i + 1).as("k"), m.col(m.columns.head))
          }
          .reduce(_ unionAll _)
    }
    val got = byK.collect().map(r => r.getInt(0) -> r.getAs[Number](1).doubleValue).toMap
    Vector.tabulate(built.size)(i => got.getOrElse(i + 1, 0.0))
  }

  /** Run `body` with `confs` set on the session, then restore each key's
    * prior value, or unset a key that had none, also when `body` throws.
    * Assumes one driver thread: concurrent queries on the same session see
    * the pinned values while `body` runs.
    */
  def withConfs[T](spark: SparkSession, confs: (String, String)*)(body: => T): T = {
    val prior = confs.map { case (k, _) => k -> spark.conf.getOption(k) }
    confs.foreach { case (k, v) => spark.conf.set(k, v) }
    try body
    finally prior.foreach { case (k, v) => v.fold(spark.conf.unset(k))(spark.conf.set(k, _)) }
  }
}
