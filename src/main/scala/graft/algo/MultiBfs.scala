package graft.algo

import graft.core.{Materializer, LocalMaterializer, Supersteps}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Level-synchronous multi-source BFS.
  *
  * The reference's one physical operator is the sequential BFS visit, one
  * thread per source (GeometricCentralities.java:151-207,
  * ChechikTopCloseness.java:143-190). We invert the loop nesting
  * (SURVEY.md §3.4): ALL pivots advance one hop per superstep, so each
  * superstep is ONE Catalyst plan, and the driver only ever sees
  * scalar frontier counts.
  *
  * State relation: V(pivot, id, dist, isNew) — the full distance relation so
  * far, with `isNew` marking the current frontier. The superstep aggregates
  * ONLY the new messages and merges them into the co-partitioned state:
  *
  *   M  = messages(frontier).groupBy(pivot, id).agg(min(dist))
  *   V' = V ⟗ M on (pivot, id):
  *          dist = coalesce(V.dist, M.dist), isNew = V.dist IS NULL
  *
  * V.dist ≤ d < M.dist = d+1 wherever both sides match, so the coalesce IS
  * the min-dist/first-discovery rule, and a NULL state side is the
  * distributed `distance[s] == -1` test
  * (GeometricCentralities.java:165,176-178). One plan per superstep with no
  * state-side exchange: the message aggregate lands on hash(pivot, id), and
  * the merge is a co-partitioned shuffled-hash full-outer join whose state
  * side re-enters NO exchange — the accumulated |V| rows never re-shuffle.
  * The exchanges that remain are frontier- and message-sized (the
  * Σ deg(frontier) message aggregate, plus a frontier-side one when the
  * adjacency is too large to broadcast into the frontier join). Keeping the
  * state side exchange-free needs an ASSERTED partitioning: the full-outer
  * USING join emits `coalesce(l.k, r.k) AS k`, which Catalyst cannot trace
  * to either input, so the checkpoint records UnknownPartitioning even
  * though every row physically sits in its hash(pivot, id) partition —
  * [[org.apache.spark.sql.graft.CheckpointStats.stripHashPartitioned]]
  * restores the truth, and the loop pins AQE off for its duration
  * ([[graft.core.Supersteps.withConfs]]) so no runtime coalesce/skew rewrite
  * can invalidate the assertion. The pre-round-6
  * shape (state ∪ messages → one big groupBy) re-shuffled AND re-aggregated
  * |V| + Σ deg rows every superstep: at a 1266-pivot Chechik sample visit
  * over the sf0.1 sparse graph that was ~19M state rows × 11 supersteps of
  * pure re-hash traffic, measured 18.4 s vs the merge form's messages-only
  * exchange (OPTIMIZATION_r06.md). The round-2 shape (message groupBy +
  * anti-join + separate visited-consolidation job) paid two jobs and
  * roughly twice again that traffic.
  *
  * The loop itself is [[graft.core.Supersteps.run]]: chunks of lazily
  * checkpointed supersteps, one job per chunk counting every substep's
  * frontier, stopping at the first empty one. It starts at
  * [[graft.core.Supersteps.start]]: iteration 0 (the pivots at dist 0) is
  * deferred, and the first chunk's job materializes it and counts it as
  * its starting frontier; an empty source set stops there, with no
  * superstep reported.
  *
  * The dist=0 row is the source itself (the reference excludes the source
  * from distance sums but counts it as reachable —
  * GeometricCentralities.java:170-188 — the dist=0 row satisfies both).
  *
  * Scale notes: the adjacency side of the frontier join keeps its cached
  * hash(src) partitioning; dist advances as `frontier.dist + 1` so the loop
  * plan carries NO per-superstep literal (codegen caches hit from superstep
  * 2 on — a varying `lit(d)` would force a janino recompile per superstep,
  * serial driver time). State checkpoints are REPLACED (window
  * [[graft.core.Materializer.DefaultChain]] by default), so live
  * memory is O(|V|), not O(supersteps·|V|); with a DirMaterializer the
  * per-iteration state parquet is self-contained, so resume needs only the
  * last completed iteration.
  */
object MultiBfs {

  /** @param adjacency  output of `Graph.adjacency` over SYMMETRIZED edges,
    *                   persisted by the caller (reused every superstep).
    * @param sources    one column `pivot: Long`.
    * @return Dist(pivot, id, dist) for every vertex reachable from each pivot.
    *
    * The AQE capture/restore around the loop assumes one driver thread: no
    * concurrent runs (or other queries) on a shared session.
    */
  def run(
      spark: SparkSession,
      adjacency: DataFrame,
      sources: DataFrame,
      maxIter: Int = 256,
      mat: Materializer = new LocalMaterializer(window = Materializer.DefaultChain),
      onSuperstep: (Int, Long) => Unit = (_, _) => ()): DataFrame = {

    val init = sources
      .select(col("pivot").cast("long").as("pivot"))
      .distinct()
      .select(col("pivot"), col("pivot").as("id"),
        lit(0).as("dist"), lit(true).as("isNew"))

    // AQE off while the loop's supersteps plan AND materialize (iteration 0
    // too, so its distinct runs inside the first chunk's job): stripState's
    // asserted hash(pivot, id) placement is exactly what the merge join's
    // static plan produces; an AQE-coalesced or skew-split shuffle would
    // place rows by a partitioning that HashPartitioning cannot describe,
    // and the assertion would silently misjoin the next superstep. The
    // driver materializes every state it keeps, so restoring on exit leaves
    // no lazy superstep to plan under AQE.
    Supersteps.withConfs(spark, "spark.sql.adaptive.enabled" -> "false") {
      val (d, state) = Supersteps.start(mat, init)
      Supersteps.run(mat, state, d, maxIter, step(_, adjacency), settle = stripState,
        metric = Some(Supersteps.Count(col("isNew"))), stop = _ == 0,
        onStep = (i, _, c) => onSuperstep(i, c.toLong))
    }.state.select("pivot", "id", "dist")
  }

  /** [[run]] as a [[graft.algo.Visit]]: its aggregates group the
    * (pivot, id, dist) relation by pivot (farness) or, joined to the
    * divisors on pivot, by id (reverse sum and max of d / div).
    * `release` frees the final superstep state the relation reads.
    */
  def visit(
      spark: SparkSession,
      adjacency: DataFrame,
      sources: DataFrame,
      onSuperstep: (Int, Long) => Unit = (_, _) => ()): Visit = {
    val dist = run(spark, adjacency, sources, onSuperstep = onSuperstep)
    def reverse(divisors: DataFrame, agg: Column => Column): DataFrame =
      dist.join(divisors.select("pivot", "div"), "pivot")
        .groupBy("id")
        .agg(agg(col("dist").cast("double") / col("div")).as("value"))
    new Visit {
      def farness: DataFrame =
        dist.groupBy(col("pivot").as("id")).agg(sum("dist").cast("long").as("farness"))
      def reverseSum(divisors: DataFrame): DataFrame = reverse(divisors, sum)
      def reverseMax(divisors: DataFrame): DataFrame = reverse(divisors, max)
      def release(): Unit = Materializer.unpersistCheckpoint(dist)
    }
  }

  /** One superstep over the previous state (see object scaladoc). Package-
    * visible so PlanSpec exercises the EXACT loop body instead of a
    * drift-prone copy (the recorded plans behind OPTIMIZATION_r06.md §1 were
    * dumped from it too). The superstep references `prev` TWICE (frontier
    * extraction + the merge join), so inherited checkpoint stats would
    * SQUARE each iteration — every materialized state goes through
    * [[stripState]] — and because stripped frames carry defaultSizeInBytes
    * the merge join must say shuffle_hash explicitly (messages build side:
    * bounded by Σ deg(frontier), always ≤ the accumulated state it probes).
    */
  private[graft] def step(prev: DataFrame, adjacency: DataFrame): DataFrame = {
    val frontier = prev.where(col("isNew"))
    val msgs = frontier
      .join(adjacency, frontier("id") === adjacency("src"))
      .select(col("pivot"), explode(col("neighbors")).as("id"),
        (col("dist") + 1).as("md"))
      .groupBy("pivot", "id")
      .agg(min("md").as("md"))
    prev
      .select(col("pivot"), col("id"), col("dist").as("pd"))
      .join(msgs.hint("shuffle_hash"), Seq("pivot", "id"), "full_outer")
      .select(col("pivot"), col("id"),
        coalesce(col("pd"), col("md")).as("dist"),
        col("pd").isNull.as("isNew"))
  }

  /** Stats-strip a materialized superstep state AND assert its true
    * hash(pivot, id) placement (the full-outer join's coalesced key
    * projection hides it from Catalyst — see the object scaladoc and
    * CheckpointStats.stripHashPartitioned). Only valid on [[step]] outputs
    * materialized with AQE off, which is every state the loop tracks.
    */
  private[graft] def stripState(df: DataFrame): DataFrame =
    org.apache.spark.sql.graft.CheckpointStats.stripHashPartitioned(
      df, Seq("pivot", "id"))
}
