package graft.algo

import graft.core.{Materializer, LocalMaterializer, Supersteps}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window

/** Connected components by alternating large-star / small-star contraction
  * (SURVEY.md §2.12 G1 — the reference only prints the component COUNT of the
  * symmetrized graph via WebGraph's SCC, Main.java:59; we also expose labels).
  *
  * Label(v) converges to the minimum vertex ID in v's component —
  * deterministic, so component IDs are exactly comparable to any oracle
  * (north rule: "component IDs ... exactly").
  *
  * Round-2 used hash-min label propagation: O(diameter) supersteps, the
  * slowest plan in the repo on a 100×-scale high-diameter graph (SURVEY
  * §7.3.5's own risk list). This is the Two-Phase algorithm of Kiveris et
  * al., "Connected Components in MapReduce and Beyond" (SoCC 2014):
  * per round, over an edge set kept oriented src > dst,
  *
  *   large-star: each vertex u connects its strictly LARGER neighbors to
  *               m(u) = min(Γ(u) ∪ u)  — emits (v, m(u)) for v ∈ Γ(u), v > u
  *   small-star: each vertex u connects its smaller neighbors and itself to
  *               m(u) = min(Γ(u))      — emits (v, m(u)) for v ∈ Γ(u) ∪ u
  *
  * which converges in O(log n) rounds to per-component stars rooted at the
  * component minimum. Both stars are a single pass over the edge list with a
  * per-source aggregate window (partitioned by src — never an unpartitioned
  * window) and reference the previous state only ADDITIVELY (unions and
  * windows, no self-joins), so checkpoint-inherited stats never square
  * across rounds (STATS DISCIPLINE — see PageRank).
  *
  * The loop is [[graft.core.Supersteps.run]]: a round is its `step`, and
  * its metric is the size of the symmetric difference between the new edge
  * set and the previous one — a full-outer probe of two distinct'd (hence
  * duplicate-free) frames, co-partitioned on (src, dst) — which is 0
  * exactly at the fixpoint. One union job per chunk measures every round of
  * the chunk; the loop keeps the first round whose edge set is unchanged,
  * so labels and the round count equal a chunk length of 1. That one rule
  * holds for every input: an edge set that is already a fixpoint (e.g.
  * empty, when every edge is a self loop) still runs and keeps one round,
  * so `iterations` is 1. The probe joins two checkpointed frames into a
  * scalar, and its stats die with the job.
  *
  * Known skew note: the per-src window puts deg(u) rows in one task for a
  * hub u; the contraction itself is the mitigation — after one round every
  * hub neighborhood collapses onto m(u), so the skew is transient, unlike
  * hash-min where the hub re-receives deg(u) messages EVERY superstep.
  */
object Components {

  case class Result(labels: DataFrame, iterations: Int)

  /** @param onSuperstep (round, metric) per round: the metric is the
    *                    round's changed-edge count, 0 on the last round of a
    *                    converged run. No caller reads the value; perfbench
    *                    counts the calls.
    */
  def run(
      spark: SparkSession,
      adjacency: DataFrame,
      maxIter: Int = 64,
      mat: Materializer = new LocalMaterializer(window = 3),
      onSuperstep: (Int, Long) => Unit = (_, _) => ()): Result = {

    val verts = adjacency.select(col("src").as("id")).distinct()

    // edges oriented large→small; self loops drop (they never change labels)
    val init = adjacency
      .select(col("src"), explode(col("neighbors")).as("dst"))
      .where(col("src") > col("dst"))
      .distinct()

    val (iter, edges) = Supersteps.start(mat, init)

    val wSrc = Window.partitionBy("src")
    def step(edges: DataFrame): DataFrame = {
      // large-star over BOTH orientations of each edge
      val bidir = edges.select(col("src"), col("dst"))
        .unionAll(edges.select(col("dst").as("src"), col("src").as("dst")))
      val ls = bidir
        .withColumn("m", least(min("dst").over(wSrc), col("src")))
        .where(col("dst") > col("src"))
        .select(col("dst").as("src"), col("m").as("dst")) // v > u ≥ m ⇒ src > dst
      // small-star on the (src > dst)-oriented result
      val withM = ls.withColumn("m", min("dst").over(wSrc)) // m < src
      withM
        .where(col("dst") =!= col("m"))
        .select(col("dst").as("src"), col("m").as("dst")) // dst > m
        .unionAll(withM.select(col("src"), col("m").as("dst")))
        .distinct()
    }

    // fixpoint ⇔ the edge SET is unchanged ⇔ no row on one side only
    val changed = (prev: DataFrame, next: DataFrame) =>
      next.select(col("src"), col("dst"), lit(true).as("__new"))
        .join(prev.select(col("src"), col("dst"), lit(true).as("__old")),
          Seq("src", "dst"), "full_outer")
        .agg(count(when(col("__new").isNull || col("__old").isNull, 1)).as("changed"))
    val end = Supersteps.run(mat, edges, iter, maxIter, step,
      metric = Some(Supersteps.Aggregate(changed)),
      stop = _ == 0, onStep = (i, _, c) => onSuperstep(i, c.toLong))
    val fixpoint = end.state

    // fixpoint is a star per component: (child, root) edges, root = min id.
    // Vertices absent from the star (isolated after self-loop drop) label
    // themselves.
    val starLabels = fixpoint.select(col("src").as("id"), col("dst").as("label"))
      .unionAll(fixpoint.select(col("dst").as("id"), col("dst").as("label")))
      .distinct()
    val labels = verts
      .join(starLabels, Seq("id"), "left")
      .select(col("id"), coalesce(col("label"), col("id")).as("label"))
    Result(labels, end.iter)
  }
}
