package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.scalatest.funsuite.AnyFunSuite

object SparkTestBase {
  lazy val spark: SparkSession = {
    val s = SparkSession.builder()
      .master("local[4]")
      .appName("graft-tests")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }
}

/** Shared session + fixture helpers for all suites. */
trait SparkTestBase extends AnyFunSuite {
  lazy val spark: SparkSession = SparkTestBase.spark

  /** Undirected edge list → symmetrized edge DataFrame. */
  def edgeDf(edges: Seq[(Long, Long)]): DataFrame = {
    import spark.implicits._
    graft.core.Graph.symmetrize(edges.toDF("src", "dst"))
  }

  def adjOf(edges: Seq[(Long, Long)], maxSlice: Int = 1 << 16): DataFrame =
    graft.core.Graph.adjacency(edgeDf(edges), maxSlice).cache()

  // closed-form micro-graphs (FIXTURES.md §2)
  val path4 = Seq(0L -> 1L, 1L -> 2L, 2L -> 3L)
  val star5 = Seq(0L -> 1L, 0L -> 2L, 0L -> 3L, 0L -> 4L)
  val k4 = Seq(0L -> 1L, 0L -> 2L, 0L -> 3L, 1L -> 2L, 1L -> 3L, 2L -> 3L)
  val cycle4 = Seq(0L -> 1L, 1L -> 2L, 2L -> 3L, 3L -> 0L)
  val twocomp = Seq(0L -> 1L, 2L -> 3L)

  /** Seeded Erdős–Rényi G(n, p) as an undirected edge list. */
  def erGraph(n: Int, p: Double, seed: Long): Seq[(Long, Long)] = {
    val rnd = new scala.util.Random(seed)
    (for {
      i <- 0 until n
      j <- (i + 1) until n
      if rnd.nextDouble() < p
    } yield (i.toLong, j.toLong)).toSeq
  }

  /** Delete a `DirMaterializer`'s `iter=*` directories after iteration
    * `keep`: what a run interrupted there leaves behind.
    */
  def truncateIters(dir: String, keep: Int): Unit = {
    import java.nio.file.{Files, Paths}
    import scala.jdk.CollectionConverters._
    Files.list(Paths.get(dir)).iterator.asScala.toSeq
      .filter(_.getFileName.toString.stripPrefix("iter=").toIntOption.exists(_ > keep))
      .foreach(d => Files.walk(d).iterator.asScala.toSeq.reverse.foreach(Files.delete(_)))
  }

  def approxEqual(a: Double, b: Double, tol: Double = 1e-6): Boolean =
    math.abs(a - b) <= tol * math.max(1.0, math.max(math.abs(a), math.abs(b)))
}
