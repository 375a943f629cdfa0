package graft.algo

import graft.core.{Materializer, LocalMaterializer, Supersteps}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.CheckpointStats.bind

/** Synchronous label propagation (community detection; north rule,
  * SURVEY.md §2.12 G3). Deterministic by construction:
  *
  *   label_{t+1}(v) = the label most frequent among v's neighbors at t,
  *                    ties broken by SMALLEST label; vertices keep their
  *                    label if they have no neighbors.
  *
  * Initial labels = vertex IDs. Synchronous rounds + explicit tie-break make
  * the result a pure function of (edges, rounds) — oracle-checkable, unlike
  * the classic randomized-order LPA.
  */
object LabelProp {

  def run(
      spark: SparkSession,
      adjacency: DataFrame,
      rounds: Int,
      mat: Materializer = new LocalMaterializer()): DataFrame = {

    val init = adjacency.select(col("src").as("id")).distinct()
      .select(col("id"), col("id").as("label"))
    val (iter, labels) = Supersteps.start(mat, init)

    // every vertex of the adjacency has ≥1 neighbor (vertex set = its
    // sources, symmetrized), so winners covers ALL vertices and no
    // keep-old-label fallback join is needed — which also keeps the
    // superstep single-reference in `labels` (STATS DISCIPLINE: see
    // PageRank — a second multiplicative reference squares inherited
    // localCheckpoint stats every round).
    // max_by on struct(c, -label) = most frequent label, ties → smallest
    // label (labels are unique per group, so the ordering value is unique
    // and the pick deterministic): a hash aggregate, not the round-2
    // row_number window whose per-group sort was an extra per-round sort.
    def step(prev: DataFrame): DataFrame = {
      val msgs = prev
        .join(adjacency, prev("id") === adjacency("src"))
        .select(explode(col("neighbors")).as("id"), col("label"))
      msgs.groupBy("id", "label").agg(count(lit(1)).as("c"))
        .groupBy("id")
        .agg(max_by(col("label"), struct(col("c"), negate(col("label")))).as("label"))
    }

    // Rounds are FIXED (no per-round metric): Supersteps.run builds each
    // chunk's rounds as lazy checkpoints and checkpoints its last round
    // eagerly, one job per chunk.
    bind(Supersteps.run(mat, labels, iter, rounds, step).state, spark)
  }

  /** DuckDB oracle: the same synchronous rounds unrolled in SQL. */
  def oracleSql(edgeSql: String, rounds: Int): String = {
    val b = new StringBuilder
    b ++= s"WITH e0 AS ($edgeSql),\n"
    b ++= "e AS (SELECT src, dst FROM e0 UNION SELECT dst, src FROM e0),\n"
    b ++= "n AS (SELECT DISTINCT src AS id FROM e),\n"
    b ++= "l0 AS (SELECT id, id AS label FROM n)"
    for (i <- 1 to rounds) {
      b ++= s""",
l$i AS (
  SELECT id, label FROM (
    SELECT e.dst AS id, l.label,
           row_number() OVER (PARTITION BY e.dst ORDER BY count(*) DESC, l.label ASC) AS rn
    FROM e JOIN l${i - 1} l ON e.src = l.id
    GROUP BY e.dst, l.label) t
  WHERE rn = 1)"""
    }
    b ++= s"\nSELECT id, label FROM l$rounds ORDER BY id"
    b.toString
  }
}
