package graft.algo

import graft.core.{Materializer, LocalMaterializer, Supersteps}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.CheckpointStats.bind
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
  * its metric reads the new edge set alone — the count of vertices that
  * break the star-forest shape, a child (`src`) that is also a root (`dst`)
  * or a child with two roots. The round's output is distinct'd, so that is
  * one grouped count per vertex. It is 0 exactly when the edge set is a
  * forest of stars, which is the contraction's fixpoint: a star maps to
  * itself. Contraction preserves connectivity and keeps every edge
  * oriented src > dst, so each star is one component rooted at its
  * minimum. One union job per chunk measures every round of the chunk; the
  * loop stops at the first round whose edge set is a star forest, and
  * keeps it, so labels and the round count equal a chunk length of 1. That
  * one rule holds for every input: an edge set that already is a star
  * forest (e.g. empty, when every edge is a self loop) still runs and keeps
  * one round, so `iterations` is 1.
  *
  * Known skew note: the per-src window puts deg(u) rows in one task for a
  * hub u; the contraction itself is the mitigation — after one round every
  * hub neighborhood collapses onto m(u), so the skew is transient, unlike
  * hash-min where the hub re-receives deg(u) messages EVERY superstep.
  */
object Components {

  case class Result(labels: DataFrame, iterations: Int)

  /** @param onSuperstep (round, metric) per round: the metric is the count
    *                    of vertices that break the round's star shape, 0 on
    *                    the last round of a converged run. No caller reads
    *                    the value; perfbench counts the calls.
    */
  def run(
      spark: SparkSession,
      adjacency: DataFrame,
      mat: Materializer = new LocalMaterializer(window = 3),
      onSuperstep: (Int, Long) => Unit = (_, _) => ()): Result = {

    val verts = adjacency.select(col("src").as("id")).distinct()

    // edges oriented large→small; self loops drop (they never change labels).
    // A symmetrized adjacency holds each (src, dst) once; a duplicate never
    // reaches the star check, which reads only `step`'s distinct'd outputs
    val init = adjacency
      .select(col("src"), explode(col("neighbors")).as("dst"))
      .where(col("src") > col("dst"))

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

    // a star forest ⇔ no vertex is a child twice, or both a child and a root
    val brokenStars = (_: DataFrame, next: DataFrame) =>
      next.select(col("src").as("v"), lit(1).as("o"), lit(0).as("i"))
        .unionAll(next.select(col("dst").as("v"), lit(0).as("o"), lit(1).as("i")))
        .groupBy("v").agg(sum("o").as("o"), max("i").as("i"))
        .agg(count(when(col("o") > 1 || (col("o") > 0 && col("i") > 0), 1)).as("broken"))
    val end = Supersteps.run(mat, edges, iter, Int.MaxValue, step,
      metric = Some(Supersteps.Aggregate(brokenStars)),
      stop = _ == 0, onStep = (i, _, c) => onSuperstep(i, c.toLong))
    val star = end.state

    // each child has exactly one root, the component minimum; a root, and a
    // vertex absent from the star (isolated after self-loop drop), labels itself
    val labels = verts
      .join(star.select(col("src").as("id"), col("dst").as("label")), Seq("id"), "left")
      .select(col("id"), coalesce(col("label"), col("id")).as("label"))
    Result(bind(labels, spark), end.iter)
  }
}
