package graft.algo

import graft.core.{Materializer, LocalMaterializer, Supersteps}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.CheckpointStats.bind

/** PageRank as iterative Dataset joins (north rule; no reference counterpart
  * — SURVEY.md §2.12 G3).
  *
  * Superstep: contributions = ranks ⋈ adjacency (explode neighbor slices,
  * rank/degree each) → groupBy(dst).sum → new rank = (1−d)/n + d·msg. The
  * vertex set is the adjacency's sources, so no vertex dangles (every rank
  * flows out along its arcs). The salted adjacency is safe here: each
  * neighbor lives in exactly one slice and `degree` carries the FULL
  * degree, so per-slice contributions never double-count.
  *
  * Convergence: L∞(new − old) < tol, checked as a scalar between supersteps
  * (the reference's `volatile stop` analogue, SURVEY.md §3.4); or fixed
  * `maxIter` when `tol <= 0` (used by the DuckDB-oracle query, which unrolls
  * the same recurrence in SQL).
  *
  * A run plans on one loop session ([[graft.core.Supersteps.session]]),
  * opened at its entry: the vertex count and every superstep plan there,
  * whatever the caller's AQE setting, and the ranks are bound back to the
  * caller's session.
  */
object PageRank {

  case class Result(ranks: DataFrame, iterations: Int, finalDelta: Double)

  def run(
      spark: SparkSession,
      adjacency: DataFrame,
      damping: Double = 0.85,
      maxIter: Int = 100,
      tol: Double = 1e-6,
      mat: Materializer = new LocalMaterializer(),
      onSuperstep: (Int, Double) => Unit = (_, _) => ()): Result = {

    val adj = bind(adjacency, Supersteps.session(spark))
    // lazy checkpoint: the count is the materializing action (one job)
    val verts = adj.select(col("src").as("id")).distinct().localCheckpoint(false)
    val n = verts.count()
    val nInv = 1.0 / n

    val (iter, ranks) = Supersteps.start(mat, verts.select(col("id"), lit(nInv).as("pr")))

    // STATS DISCIPLINE: localCheckpoint carries originStats into the new
    // LogicalRDD and join sizeInBytes MULTIPLY — a superstep referencing
    // the previous state twice squares the stats each iteration (BigInt
    // blowup: Catalyst ends up multiplying million-digit numbers). Keep
    // exactly ONE reference to `prev` in the checkpointed plan; the L∞
    // delta joins two already-checkpointed frames and yields a scalar, so
    // its (large) join stats die with the job.
    def step(prev: DataFrame): DataFrame = {
      val msgs = prev.join(adj, prev("id") === adj("src"))
        .select(explode(col("neighbors")).as("id"), (col("pr") / col("degree")).as("w"))
        .groupBy("id")
        .agg(sum("w").as("msg"))
      verts
        .join(msgs, Seq("id"), "left")
        .select(
          col("id"),
          (lit((1 - damping) * nInv) + lit(damping) * coalesce(col("msg"), lit(0.0))).as("pr"))
    }

    // the loop is Supersteps.run: one union job per chunk computes every
    // substep's delta and the loop stops at the first delta ≤ tol.
    // Fixed-iteration mode (tol <= 0) has no metric: fixed rounds, as in
    // LabelProp.
    val delta = (prev: DataFrame, next: DataFrame) =>
      next.join(prev.select(col("id"), col("pr").as("prevPr")), "id")
        .agg(max(abs(col("pr") - col("prevPr"))).as("d"))
    val end = Supersteps.run(mat, ranks, iter, maxIter, step,
      metric = if (tol > 0) Some(Supersteps.Aggregate(delta)) else None,
      stop = _ <= tol, onStep = (i, _, d) => onSuperstep(i, d))
    // a kept iteration is a materialized checkpoint; only the deferred
    // start, returned when no iteration ran, still reads `verts`
    if (end.iter > iter) Materializer.unpersistCheckpoint(verts)
    Result(bind(end.state, spark), end.iter, end.metric)
  }

  /** DuckDB oracle: the identical recurrence unrolled as plain SQL CTEs
    * (recursive CTEs cannot aggregate in the recursive term). `edgeSql` must
    * produce the DIRECTED edge set; it is symmetrized here exactly like
    * [[graft.core.Graph.symmetrize]].
    */
  def oracleSql(edgeSql: String, iters: Int, damping: Double = 0.85): String = {
    val b = new StringBuilder
    b ++= s"WITH e0 AS ($edgeSql),\n"
    b ++= "e AS (SELECT src, dst FROM e0 UNION SELECT dst, src FROM e0),\n"
    b ++= "n AS (SELECT DISTINCT src AS id FROM e),\n"
    b ++= "deg AS (SELECT src AS id, count(*) AS d FROM e GROUP BY src),\n"
    b ++= "c AS (SELECT CAST(count(*) AS DOUBLE) AS nn FROM n),\n"
    b ++= "r0 AS (SELECT id, CAST(1.0 AS DOUBLE) / (SELECT nn FROM c) AS pr FROM n)"
    for (i <- 1 to iters) {
      b ++= s""",
r$i AS (
  SELECT n.id,
         (1.0 - $damping) / (SELECT nn FROM c)
         + $damping * COALESCE(m.s, CAST(0.0 AS DOUBLE)) AS pr
  FROM n LEFT JOIN (
    SELECT e.dst AS id, sum(r.pr / deg.d) AS s
    FROM e JOIN r${i - 1} r ON e.src = r.id JOIN deg ON deg.id = e.src
    GROUP BY e.dst) m ON n.id = m.id)"""
    }
    b ++= s"\nSELECT id, round(pr, 6) AS pr FROM r$iters ORDER BY id"
    b.toString
  }
}
