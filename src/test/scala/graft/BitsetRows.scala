package graft

import graft.algo.BitsetBfs
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._

/** Expands a completed bitset visit back to the row BFS's
  * Dist(pivot, id, dist) relation, so specs can compare the two forms row
  * for row. O(P·n) output rows: the engine never needs this relation, only
  * the visit's aggregates.
  */
object BitsetRows {

  def apply(v: BitsetBfs.Visit): DataFrame = {
    val ms = v.maskNames
    if (v.increments.isEmpty) {
      val spark = v.idx.sparkSession
      return spark.createDataFrame(
        spark.sparkContext.emptyRDD[Row],
        org.apache.spark.sql.types.StructType.fromDDL("pivot LONG, id LONG, dist INT"))
    }

    // explode tiles → (pivot, id, dist), joined back through the idx map
    val bitsOf = (m: String) =>
      expr(s"filter(sequence(0, 63), b -> (shiftright($m, b) & 1) = 1)")
    v.increments.groupBy(_._1).toSeq.sortBy(_._1).map { case (w, winc) =>
      val exploded = winc.map { case (_, d, inc) =>
        val rows = BitsetBfs.idRows(inc, "tile", ms.size)
        ms.zipWithIndex.map { case (m, j) =>
          rows.where(col(m) =!= 0L)
            .select(col("id"), lit(d).as("dist"),
              explode(bitsOf(m)).as("mbit"))
            .withColumn("mcol", lit(j))
        }.reduce(_ unionAll _)
      }.reduce(_ unionAll _)
      exploded
        .join(v.idx.where(col("wave") === w), Seq("mcol", "mbit"))
        .select(col("pivot"), col("id"), col("dist"))
    }.reduce(_ unionAll _)
  }
}
