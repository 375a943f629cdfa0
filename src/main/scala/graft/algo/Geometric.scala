package graft.algo

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** The geometric-centrality kernels (SURVEY.md §2.4, A1–A6), computed as one
  * groupBy over the multi-source distance relation Dist(pivot, id, dist).
  *
  * Exact reference semantics (GeometricCentralities.java:151-207):
  *   - farness[s]     = Σ_{v reachable, v≠s} d(s,v)        (:187 — widened to Long, the
  *                      reference's `int` overflows at scale, SURVEY.md §1.1)
  *   - harmonic[s]    = Σ 1/d(s,v)                          (:173,185)
  *   - exponential[s] = Σ α^d(s,v), α = 0.5                 (:46,174,186)
  *   - reachable[s]   = # dequeued nodes INCLUDING s        (:170-171,205)
  *   - closeness[s]   = 1/farness, 0 if farness = 0         (:184,198-201)
  *   - lin[s]         = reachable²/farness, 1 if farness=0  (:198-203)
  *
  * The dist=0 source row contributes 0 to all sums and 1 to reachable, so a
  * single pass needs no special-casing.
  */
object Geometric {

  val Alpha = 0.5 // GeometricCentralities.java:46

  /** All six scores per pivot from a Dist relation. */
  def scores(dist: DataFrame): DataFrame =
    dist
      .groupBy(col("pivot").as("id"))
      .agg(
        sum(col("dist")).cast("long").as("farness"),
        sum(when(col("dist") > 0, lit(1.0) / col("dist")).otherwise(0.0)).as("harmonic"),
        sum(when(col("dist") > 0, pow(lit(Alpha), col("dist"))).otherwise(0.0)).as("exponential"),
        count(lit(1)).as("reachable"))
      .withColumn(
        "closeness",
        when(col("farness") > 0, lit(1.0) / col("farness")).otherwise(0.0))
      .withColumn(
        "lin",
        when(col("farness") > 0,
          col("reachable").cast("double") * col("reachable") / col("farness"))
          .otherwise(1.0))
      .select("id", "farness", "harmonic", "exponential", "reachable", "closeness", "lin")

  /** Reverse farness (id, revFarness: Long): Σ over `sources` (one column
    * `pivot`, distinct) of d(source, v), grouped by TARGET — the
    * accumulation direction of the sampling estimators
    * (ChechikEstimator.java:145,162-164, TopCloseness.java:154). The visit's
    * reverse sum with every divisor 1 adds integer distances, exact in a
    * double below 2⁵³ in both visit forms, so the Long is exact.
    */
  def reverseFarness(v: Visit, sources: DataFrame): DataFrame =
    v.reverseSum(sources.select(col("pivot"), lit(1.0).as("div")))
      .select(col("id"), col("value").cast("long").as("revFarness"))

  /** T6 mergeAndSort (Sorter.java:55-70,80-89): per-vertex normalized
    * closeness — EXACT (n−1)/farness where a full BFS completed, else the
    * progressive estimate kDone·(n−1)/(n·revFarness) from the kDone BFS done
    * so far — merged and sorted descending, ties DESCENDING id (the
    * reference comparator is t2.compareTo(t1), Sorter.java:62); zero/absent
    * farness ⇒ score 0 (Sorter.java:45-48). The two segments are T3's
    * two-segment farnessSort made explicit via the `exact` flag.
    *
    * @param exactFarness (id, farness) for completed-BFS vertices
    * @param revFarness   (id, revFarness) accumulated from the kDone pivots
    */
  def mergeAndSort(
      exactFarness: DataFrame,
      revFarness: DataFrame,
      verts: DataFrame,
      n: Long,
      kDone: Long): DataFrame =
    verts
      .join(exactFarness.withColumnRenamed("farness", "ef"), Seq("id"), "left")
      .join(revFarness.withColumnRenamed("revFarness", "rf"), Seq("id"), "left")
      .select(
        col("id"),
        col("ef").isNotNull.as("exact"),
        when(col("ef").isNotNull && col("ef") > 0, lit(n - 1.0) / col("ef"))
          .when(col("ef").isNull && coalesce(col("rf"), lit(0L)) > 0,
            lit(kDone * (n - 1.0) / n.toDouble) / col("rf"))
          .otherwise(0.0).as("score"))
      .orderBy(desc("score"), desc("id"))
}
