package graft.core

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.CheckpointStats.{bind, cloneSession}

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
  * substeps after it were computed by the chunk's job and are released,
  * and so is every state it replaced (see [[run]]): a loop's live states
  * stay at one chunk, as the reference reuses one distance array per visit.
  * Every loop starts at [[start]], so no loop counts or eagerly checkpoints
  * its starting state: the first chunk's job does.
  *
  * Every loop runs on a loop [[session]], a clone of the caller's with AQE
  * off and the co-partitioning rule pinned: a chunk is then one job if its
  * plan has no broadcast join (AQE would submit each query stage as its
  * own; planning a lazy checkpoint submits a job per `BroadcastExchange`,
  * and the union job broadcasts again), and MultiBfs's asserted state
  * placement is the static plan's. An algorithm run (Chechik, Progressive,
  * PageRank) opens one at its entry point and plans its set-up there; every
  * loop and visit inside the run gets that session back from [[session]]
  * instead of cloning its own. The caller's session is never written to,
  * and each run hands its result back bound to it.
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
    * (one, if broadcast-free) counts every substep in one union aggregate
    * keyed by substep. An empty frontier sends no messages, so counts are
    * monotone to zero within a chunk and the overshoot substeps are
    * identity maps. The first substep
    * of a chunk records the previous count, the frontier it stepped from,
    * in its checkpoint's metadata — except in a run's first chunk, whose job
    * counts the starting frontier too, so the count is not known when that
    * substep is written: a `DirMaterializer`'s iteration 1 (or the first
    * after a resume) records −1.
    */
  final case class Count(pred: Column) extends Metric

  /** A one-row, one-column aggregate of (previous state, new state) — e.g.
    * PageRank's L∞ delta, or Components' count of vertices that break the
    * star shape, which reads the new state alone. A chunk's job is the
    * union of the u one-row aggregates. Checkpoints record −1.
    */
  final case class Aggregate(of: (DataFrame, DataFrame) => DataFrame) extends Metric

  /** Where the loop stopped: the kept state, its iteration, its metric. */
  final case class Result(state: DataFrame, iter: Int, metric: Double)

  /** The loop sessions [[session]] made, held weakly and told apart by
    * identity: a caller's session is never one of them, whatever its confs.
    */
  private val made = java.util.Collections.synchronizedSet(
    java.util.Collections.newSetFromMap(new java.util.WeakHashMap[SparkSession, java.lang.Boolean]))

  /** A loop session: `spark` itself if it is one this method made with the
    * same confs, else a clone of `spark` (same SparkContext and
    * CacheManager, every conf copied) with them set. The confs are AQE off,
    * `requireAllClusterKeysForCoPartition` on (a join on (pivot, id)
    * re-exchanges a side hash-partitioned on pivot alone, so MultiBfs's
    * first merge cannot keep iteration 0's hash(pivot) placement under the
    * hash(pivot, id) that `stripState` asserts), then `confs`, which may
    * override both. There are two kinds: a run's session, with no
    * `confs`, and the bitset session a [[graft.algo.BitsetBfs.Prep]] plans
    * on, with its two tile confs. Reusing a run's session is what makes it
    * one session per run; a caller's session is always cloned, so a caller
    * that changes its own confs never reaches a running loop.
    */
  def session(spark: SparkSession, confs: (String, String)*): SparkSession = {
    val pinned = (Seq("spark.sql.adaptive.enabled" -> "false",
      "spark.sql.requireAllClusterKeysForCoPartition" -> "true") ++ confs).toMap
    if (made.contains(spark) && pinned.forall { case (k, v) => spark.conf.getOption(k).contains(v) }) spark
    else {
      val s = cloneSession(spark)
      pinned.foreach { case (k, v) => s.conf.set(k, v) }
      made.add(s)
      s
    }
  }

  /** Where a loop starts, bound to the [[session]] of `init`'s session
    * (inside a run, the run's own): the last increment `mat` resumes,
    * projected to `init`'s columns, or else `init` deferred as iteration 0
    * — the first chunk's job of [[run]] materializes it (and, for a
    * [[Count]] loop, counts its frontier).
    */
  def start(mat: Materializer, init: DataFrame): (Int, DataFrame) = {
    val s = session(init.sparkSession)
    val (i, st) = mat.resumeIncrements().lastOption match {
      case Some((i, st)) => (i, st.select(init.columns.toSeq.map(col): _*))
      case None => (0, mat.iterateDeferred(bind(init, s), 0, -1.0))
    }
    (i, bind(st, s))
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
    * Every substep is planned on `state`'s session, the loop's [[session]]:
    * each `step` output, and each frame `mat` hands back (a
    * `DirMaterializer` reads back through its own session), is bound to it.
    *
    * The loop owns its states: once a chunk's job has run, it frees
    * ([[Materializer.unpersistCheckpoint]]) the overshoot substeps and
    * every state the kept substep replaced, `state` included. The returned
    * state is never freed; the caller frees it when done.
    *
    * @param step   plans the next state over a materialized one
    * @param settle applied to every checkpointed substep before it becomes
    *               the state (e.g. a stats strip)
    * @param metric the per-substep figure; None for fixed rounds, whose
    *               chunk is materialized by checkpointing its last substep
    *               eagerly, and which report `Double.MaxValue` per substep
    * @param onStep (iter, state, metric) for every kept substep, in order
    * @param retain keep every kept substep and `state` alive for the caller,
    *               who reads them after the loop and frees them (BitsetBfs)
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
      onStep: (Int, DataFrame, Double) => Unit = (_, _, _) => (),
      retain: Boolean = false): Result = {
    val chunk = math.max(1, math.min(Materializer.DefaultChain, mat.chainCapacity))
    val s = state.sparkSession
    // true until a Count loop's first chunk has counted the starting frontier
    var countStart = metric.exists(_.isInstanceOf[Count])
    var cur = Result(state, iter, Double.MaxValue)
    while (cur.iter < maxIter && !stop(cur.metric)) {
      val u = math.min(chunk, maxIter - cur.iter)
      var built = Vector.empty[DataFrame]
      for (k <- 1 to u) {
        val next = bind(step(built.lastOption.getOrElse(cur.state)), s)
        val i = cur.iter + k
        built :+= settle(bind(metric match {
          // fixed rounds: the last substep's eager checkpoint is the chunk's job
          case None if k == u => mat.iterate(next, i, -1.0)
          case Some(Count(_)) if k == 1 && !countStart => mat.iterateDeferred(next, i, cur.metric)
          case _ => mat.iterateDeferred(next, i, -1.0)
        }, s))
      }
      // substep k is states(k) with figure figures(k); k = 0 is the chunk's input
      val states = cur.state +: built
      val figures = metric.fold(Vector.fill(u + 1)(cur.metric))(measure(_, states, countStart))
      // kept = 0 only when the counted start already stops the loop
      val kept = figures.indexWhere(stop, if (countStart) 0 else 1) match { case -1 => u; case n => n }
      countStart = false
      for (k <- 1 to kept) onStep(cur.iter + k, states(k), figures(k))
      val freed = if (retain) built.drop(kept) else states.patch(kept, Nil, 1)
      freed.foreach(Materializer.unpersistCheckpoint(_))
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
}
