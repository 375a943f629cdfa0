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
  * Every loop starts at [[start]], so no loop counts or eagerly checkpoints
  * its starting state: the first chunk's job does.
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
    * in its checkpoint's metadata — except in a run's first chunk, whose job
    * counts the starting frontier too, so the count is not known when that
    * substep is written: a `DirMaterializer`'s iteration 1 (or the first
    * after a resume) records −1.
    */
  final case class Count(pred: Column) extends Metric

  /** A one-row, one-column aggregate of (previous state, new state) — e.g.
    * PageRank's L∞ delta, Components' changed-edge count. A chunk's job is the union of the u one-row
    * aggregates. Checkpoints record −1.
    */
  final case class Aggregate(of: (DataFrame, DataFrame) => DataFrame) extends Metric

  /** Where the loop stopped: the kept state, its iteration, its metric. */
  final case class Result(state: DataFrame, iter: Int, metric: Double)

  /** Where a loop starts: the last increment `mat` resumes, projected to
    * `init`'s columns, or else `init` deferred as iteration 0 — the first
    * chunk's job of [[run]] materializes it (and, for a [[Count]] loop,
    * counts its frontier).
    */
  def start(mat: Materializer, init: DataFrame): (Int, DataFrame) =
    mat.resumeIncrements().lastOption match {
      case Some((i, st)) => (i, st.select(init.columns.toSeq.map(col): _*))
      case None => (0, mat.iterateDeferred(init, 0, -1.0))
    }

  /** Run supersteps from `state` (iteration `iter`, e.g. from [[start]])
    * until `maxIter` or a substep whose metric satisfies `stop`. A [[Count]]
    * loop's first chunk also counts the frontier of `state` in its job, as
    * substep k = 0: if that figure satisfies `stop`, the chunk's substeps
    * are released and `state` is returned at `iter`. `state` never goes
    * through `settle` (iteration 0 need not have a settled state's
    * placement). [[Aggregate]] and fixed-round loops start from
    * `Double.MaxValue`, which is never a stop.
    *
    * @param step   plans the next state over a materialized one
    * @param settle applied to every checkpointed substep before it becomes
    *               the state (e.g. a stats strip)
    * @param metric the per-substep figure; None for fixed rounds, whose
    *               chunk is materialized by checkpointing its last substep
    *               eagerly, and which report `Double.MaxValue` per substep
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
      stop: Double => Boolean = _ => false,
      onStep: (Int, DataFrame, Double) => Unit = (_, _, _) => ()): Result = {
    val chunk = math.max(1, math.min(Materializer.DefaultChain, mat.chainCapacity))
    // true until a Count loop's first chunk has counted the starting frontier
    var countStart = metric.exists(_.isInstanceOf[Count])
    var cur = Result(state, iter, Double.MaxValue)
    while (cur.iter < maxIter && !stop(cur.metric)) {
      val u = math.min(chunk, maxIter - cur.iter)
      var built = Vector.empty[DataFrame]
      for (k <- 1 to u) {
        val next = step(built.lastOption.getOrElse(cur.state))
        val i = cur.iter + k
        built :+= settle(metric match {
          // fixed rounds: the last substep's eager checkpoint is the chunk's job
          case None if k == u => mat.iterate(next, i, -1.0)
          case Some(Count(_)) if k == 1 && !countStart => mat.iterateDeferred(next, i, cur.metric)
          case _ => mat.iterateDeferred(next, i, -1.0)
        })
      }
      // substep k is states(k) with figure figures(k); k = 0 is the chunk's input
      val states = cur.state +: built
      val figures = metric.fold(Vector.fill(u + 1)(cur.metric))(measure(_, states, countStart))
      // kept = 0 only when the counted start already stops the loop
      val kept = figures.indexWhere(stop, if (countStart) 0 else 1) match { case -1 => u; case n => n }
      countStart = false
      for (k <- 1 to kept) onStep(cur.iter + k, states(k), figures(k))
      built.drop(kept).foreach(Materializer.unpersistCheckpoint(_))
      cur = Result(states(kept), cur.iter + kept, figures(kept))
    }
    cur
  }

  /** The chunk's one job: the figure of every substep k ≥ 1 of `states`
    * at index k, and with `withStart` (a [[Count]] only) that of k = 0.
    */
  private def measure(metric: Metric, states: Vector[DataFrame], withStart: Boolean): Vector[Double] = {
    val byK = metric match {
      case Count(pred) =>
        states.indices.drop(if (withStart) 0 else 1)
          .map(k => states(k).where(pred).select(lit(k).as("k")))
          .reduce(_ unionAll _)
          .groupBy("k").agg(count(lit(1)))
      case Aggregate(of) =>
        (1 until states.size)
          .map { k =>
            val m = of(states(k - 1), states(k))
            m.select(lit(k).as("k"), m.col(m.columns.head))
          }
          .reduce(_ unionAll _)
    }
    val got = byK.collect().map(r => r.getInt(0) -> r.getAs[Number](1).doubleValue).toMap
    Vector.tabulate(states.size)(got.getOrElse(_, 0.0))
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
