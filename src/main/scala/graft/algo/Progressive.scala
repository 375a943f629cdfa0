package graft.algo

import graft.core.{Materializer, Rank, Supersteps}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.CheckpointStats.bind

/** R3 — the progressive-sampling driver loop (the reference's TopCloseness
  * variant, TopCloseness.java:76-107 + Sorter.java:36-53):
  *
  *  - schedule initialized by degree sort (degree desc, ties asc id —
  *    Sorter.degreeSort, Sorter.java:18-26);
  *  - each batch takes the next `batchSize` scheduled vertices and runs an
  *    exact BFS from each (one multi-source [[Visit]] here);
  *  - farness[s] accumulates the source's own exact farness
  *    (TopCloseness.java:158), approxFarness[v] accumulates d(s,v) over ALL
  *    processed sources (TopCloseness.java:159);
  *  - after each batch, `updateSchedule` re-sorts the UNPROCESSED segment by
  *    (approxFarness asc, ties asc id) — never-reached vertices carry 0 and
  *    sort first, exactly like the reference's int array
  *    (TopCloseness.java:180-186, Sorter.farnessSort:36-42);
  *  - the result order is the two-segment farnessSort: processed prefix by
  *    (farness asc, id asc), unprocessed tail by (approxFarness asc, id asc)
  *    (Sorter.java:36-53).
  *
  * S8 sink: with `snapshotDir` set, each batch's farnessSort order is written
  * as a JSON dataset under `run=<processedCount>/` — the engine form of
  * TopCloseness.printResult writing `results/<nextNode>.json`
  * (TopCloseness.java:189-201); [[graft.ingest.ResultsMerge]] is the
  * compact.py merge over those runs.
  *
  * Scale shape: the schedule is per-vertex metadata ranked with
  * [[Rank.globalRank]] (no single-partition sort); batch pivot selection is
  * a distributed TakeOrderedAndProject (`orderBy.limit`); accumulators are
  * n-row frames folded with union + groupBy and localCheckpoint'd per batch
  * to cut lineage, mirroring the engine's iterative-state discipline.
  */
object Progressive {

  /** Two-segment farnessSort position frame:
    * (id, processed 0/1, farness — 0 unless processed, apx_farness, pos).
    */
  private def farnessSort(
      verts: DataFrame, exactF: DataFrame, apxF: DataFrame): DataFrame = {
    val sc = verts
      .join(exactF.withColumnRenamed("farness", "ef"), Seq("id"), "left")
      .join(apxF, Seq("id"), "left")
      .select(
        col("id"),
        col("ef").isNotNull.as("proc"),
        coalesce(col("ef"), lit(0L)).as("farness"),
        coalesce(col("r"), lit(0L)).cast("long").as("apx_farness"))
    Rank.globalRank(sc, "pos",
        desc("proc"),
        when(col("proc"), col("farness")).otherwise(col("apx_farness")).asc,
        asc("id"))
      .select(col("id"), col("proc").cast("long").as("processed"),
        col("farness"), col("apx_farness"), col("pos"))
  }

  /** Run `numBatches` batches of `batchSize` exact BFS; returns the final
    * farnessSort frame. Each batch is one [[Visit]] from a
    * [[Visit.Selector]], so the batch size picks its form: the batch's
    * farness rows join `farness[s]`, and its reverse farness
    * ([[Geometric.reverseFarness]]) adds into `approxFarness[v]`. Both
    * accumulators are checkpointed before the visit, and the accumulators
    * they replace, are released.
    *
    * The run plans on one loop session ([[graft.core.Supersteps.session]]:
    * AQE off, co-partitioning rule pinned), opened here: the vertex count,
    * pivot picks, accumulators, ranks and snapshots plan there, and so do
    * row visits; bitset visits run on the bitset session of their shared
    * Prep, cloned once from it. The result is bound back to `spark`.
    */
  def run(
      spark: SparkSession,
      adjacency: DataFrame,
      batchSize: Int,
      numBatches: Int,
      snapshotDir: Option[String] = None): DataFrame = {
    val adj = bind(adjacency, Supersteps.session(spark))
    val verts = adj.select(col("src").as("id")).distinct().localCheckpoint(true)
    val deg = adj.select(col("src").as("id"), col("degree")).distinct()
    val visits = new Visit.Selector(adj, verts.count())

    var exactF: Option[DataFrame] = None // (id, farness) for processed
    var apxF: Option[DataFrame] = None   // (id, r) accumulated reverse farness

    for (b <- 0 until numBatches) {
      val pivots =
        if (b == 0)
          deg.orderBy(desc("degree"), asc("id")).limit(batchSize)
            .select(col("id").as("pivot"))
        else
          verts
            .join(exactF.get.select("id"), Seq("id"), "left_anti")
            .join(apxF.get, Seq("id"), "left")
            .select(col("id"), coalesce(col("r"), lit(0L)).as("r"))
            .orderBy(asc("r"), asc("id")).limit(batchSize)
            .select(col("id").as("pivot"))
      val v = visits(pivots, batchSize)
      val bf = v.farness
      val br = Geometric.reverseFarness(v, pivots).withColumnRenamed("revFarness", "r")
      val nextExact = exactF.map(_.unionAll(bf)).getOrElse(bf).localCheckpoint(true)
      val nextApx = apxF
        .map(p => p.unionAll(br).groupBy("id").agg(sum("r").as("r")))
        .getOrElse(br).localCheckpoint(true)
      // both accumulators are materialized: the visit and the ones they
      // replace are dead
      v.release()
      (exactF ++ apxF).foreach(Materializer.unpersistCheckpoint(_))
      exactF = Some(nextExact)
      apxF = Some(nextApx)
      snapshotDir.foreach { dir =>
        farnessSort(verts, exactF.get, apxF.get)
          .select("pos", "id")
          .write.mode("overwrite").json(s"$dir/run=${(b + 1) * batchSize}")
      }
    }
    visits.release()

    bind(farnessSort(verts, exactF.get, apxF.get), spark)
  }
}
