package graft.algo

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Triangle counting (north rule, SURVEY.md §2.12 G3) by degree-ordered
  * wedge join — the "compact-forward" scheme: orient every undirected edge
  * from the endpoint with smaller (degree, id) to the larger, build wedges
  * from the oriented edges, close them against the oriented edge set. Wedge
  * work is O(m^{3/2}) instead of Σ deg² — on a hub-skewed graph the naive
  * ID-orientation enumerates a 10^8-degree hub's neighbor pairs; degree
  * orientation never does.
  *
  * Each triangle {a,b,c} is counted exactly once (its unique orientation
  * a→b→c with (deg,id) ascending).
  */
object Triangles {

  /** Oriented edge table (u→v where (deg(u),u) < (deg(v),v)) from an
    * UNDIRECTED edge set given in canonical u<v form.
    */
  def orient(canonEdges: DataFrame): DataFrame = {
    // degree straight off the canonical form (round 6): each undirected edge
    // contributes one endpoint row per side, and canonical u<v rows are
    // unique with u ≠ v, so the explode-count IS degrees(symmetrize(...)) —
    // without materializing the 2m-row symmetrized table through its
    // distinct exchange just to count it.
    val deg = canonEdges
      .select(explode(array(col("src"), col("dst"))).as("id"))
      .groupBy("id").agg(count(lit(1)).as("degree"))
    val ds = deg.withColumnRenamed("id", "src").withColumnRenamed("degree", "sdeg")
    val dd = deg.withColumnRenamed("id", "dst").withColumnRenamed("degree", "ddeg")
    canonEdges
      .join(ds, "src").join(dd, "dst")
      .select(
        when(col("sdeg") < col("ddeg") || (col("sdeg") === col("ddeg") && col("src") < col("dst")),
          col("src")).otherwise(col("dst")).as("lo"),
        when(col("sdeg") < col("ddeg") || (col("sdeg") === col("ddeg") && col("src") < col("dst")),
          col("dst")).otherwise(col("src")).as("hi"))
  }

  /** Every triangle once, as (a, b, c): wedges a→b, a→c (b < c, which also
    * dedups the unordered wedge pair) centered at the LOW endpoint a of the
    * oriented edges, closed by an oriented edge between b and c.
    */
  private def triangles(canonEdges: DataFrame): DataFrame = {
    val o = orient(canonEdges).localCheckpoint(true)
    val wedges = o.select(col("lo").as("a"), col("hi").as("b"))
      .join(o.select(col("lo").as("a"), col("hi").as("c")), "a")
      .where(col("b") < col("c"))
    val closing = o.select(col("lo").as("b"), col("hi").as("c"))
      .unionAll(o.select(col("hi").as("b"), col("lo").as("c")))
    wedges.join(closing, Seq("b", "c"))
  }

  /** Global triangle count (one row, column `triangles`). */
  def globalCount(spark: SparkSession, canonEdges: DataFrame): DataFrame =
    triangles(canonEdges).agg(count(lit(1)).as("triangles"))

  /** Per-vertex triangle counts (id, triangles); vertices in no triangle are
    * absent (join with the vertex set for zero-filled output).
    */
  def perVertex(spark: SparkSession, canonEdges: DataFrame): DataFrame =
    triangles(canonEdges)
      .select(explode(array(col("a"), col("b"), col("c"))).as("id"))
      .groupBy("id")
      .agg(count(lit(1)).as("triangles"))
}
