package graft

import graft.algo.{BitsetBfs, MultiBfs, Progressive, Visit}
import graft.core.DirMaterializer
import graft.ingest.{GroundTruth, ResultsMerge}
import org.apache.spark.sql.functions._

/** R3 progressive loop vs a scala replication of TopCloseness.java, the S4
  * golden-JSON source, the S9 merge, and the BFS checkpoint-resume test the
  * round-1 verdict flagged as missing (#9).
  */
class ProgressiveSpec extends SparkTestBase {
  import spark.implicits._

  /** In-memory replication of the reference loop (TopCloseness.java:76-186):
    * degree-sorted schedule, batches of `batchSize` BFS, farness/apxFarness
    * accumulation, unprocessed-segment re-sort.
    */
  private def oracle(edges: Seq[(Long, Long)], batchSize: Int, numBatches: Int)
      : (Map[Long, Long], Map[Long, Long], Seq[Long], Set[Long]) = {
    val a = InMemoryOracle.adj(edges)
    val ns = InMemoryOracle.nodes(edges)
    val deg = ns.map(v => v -> a(v).size.toLong).toMap
    var schedule = ns.sortBy(v => (-deg(v), v))
    val farness = scala.collection.mutable.Map.empty[Long, Long].withDefaultValue(0L)
    val apx = scala.collection.mutable.Map.empty[Long, Long].withDefaultValue(0L)
    var processed = Set.empty[Long]
    for (_ <- 0 until numBatches) {
      val batch = schedule.filterNot(processed).take(batchSize)
      batch.foreach { s =>
        InMemoryOracle.bfs(a, s).foreach { case (v, d) =>
          farness(s) += d
          apx(v) += d
        }
      }
      processed ++= batch
      // updateSchedule: unprocessed by (apx asc, id asc)
      schedule = schedule.filter(processed) ++
        schedule.filterNot(processed).sortBy(v => (apx(v), v))
    }
    val order = processed.toSeq.sortBy(v => (farness(v), v)) ++
      ns.filterNot(processed).sortBy(v => (apx(v), v))
    (farness.toMap, apx.toMap, order, processed)
  }

  test("progressive loop matches the reference-semantics replication") {
    val edges = erGraph(60, 0.06, seed = 21)
    val adj = adjOf(edges)
    val (farness, apx, order, processed) = oracle(edges, batchSize = 5, numBatches = 3)
    val got = Progressive.run(spark, adj, batchSize = 5, numBatches = 3)
      .collect().map(r => (r.getAs[Long]("id"),
        (r.getAs[Long]("processed"), r.getAs[Long]("farness"),
         r.getAs[Long]("apx_farness"), r.getAs[Long]("pos")))).toMap
    order.zipWithIndex.foreach { case (v, i) =>
      val (p, f, x, pos) = got(v)
      assert(pos === i.toLong, s"pos($v)")
      assert(p === (if (processed(v)) 1L else 0L), s"processed($v)")
      assert(f === (if (processed(v)) farness(v) else 0L), s"farness($v)")
      assert(x === apx.getOrElse(v, 0L), s"apx($v)")
    }
  }

  test("progressive loop on bitset visits matches the reference-semantics replication") {
    // lowering the selector's threshold sends every batch visit to the
    // bitset form: its farness and reverse farness (a reverse sum with every
    // divisor 1) must be the same exact integers as the row form's
    val prior = Visit.bitsetAbove
    try {
      Visit.bitsetAbove = 0L
      val edges = erGraph(60, 0.06, seed = 21)
      val adj = adjOf(edges)
      assert(new Visit.Selector(adj, n = 60)(Seq(0L).toDF("pivot"), 1L)
        .isInstanceOf[BitsetBfs.Visit])
      val (farness, apx, order, processed) = oracle(edges, batchSize = 5, numBatches = 3)
      val got = Progressive.run(spark, adj, batchSize = 5, numBatches = 3)
        .collect().map(r => (r.getAs[Long]("id"),
          (r.getAs[Long]("processed"), r.getAs[Long]("farness"),
           r.getAs[Long]("apx_farness"), r.getAs[Long]("pos")))).toMap
      order.zipWithIndex.foreach { case (v, i) =>
        val (p, f, x, pos) = got(v)
        assert(pos === i.toLong, s"pos($v)")
        assert(p === (if (processed(v)) 1L else 0L), s"processed($v)")
        assert(f === (if (processed(v)) farness(v) else 0L), s"farness($v)")
        assert(x === apx.getOrElse(v, 0L), s"apx($v)")
      }
    } finally Visit.bitsetAbove = prior
  }

  test("snapshot sink + ResultsMerge reproduce per-batch farnessSort orders") {
    val edges = erGraph(40, 0.08, seed = 22)
    val adj = adjOf(edges)
    val dir = java.nio.file.Files.createTempDirectory("graft_runs").toString
    Progressive.run(spark, adj, batchSize = 4, numBatches = 2,
      snapshotDir = Some(dir)).count()
    val merged = ResultsMerge.merge(spark, dir).collect()
    val runs = merged.map(_.getAs[Long]("run")).distinct.sorted
    assert(runs.toSeq === Seq(4L, 8L))
    // run 8 must equal the final order of an identical snapshot-less run
    val fin = Progressive.run(spark, adj, batchSize = 4, numBatches = 2)
      .select("pos", "id").as[(Long, Long)].collect().toMap
    merged.filter(_.getAs[Long]("run") == 8L).foreach { r =>
      assert(fin(r.getAs[Long]("pos")) === r.getAs[Long]("id"))
    }
    // each run is a permutation of all vertices
    val n = adj.select("src").distinct().count()
    runs.foreach { rn =>
      val ids = merged.filter(_.getAs[Long]("run") == rn).map(_.getAs[Long]("id"))
      assert(ids.length.toLong === n)
      assert(ids.distinct.length === ids.length)
    }
  }

  test("ground-truth JSON golden file round-trips through GroundTruth.read") {
    val edges = erGraph(30, 0.1, seed = 23)
    val a = InMemoryOracle.adj(edges)
    val ns = InMemoryOracle.nodes(edges)
    val far = ns.map(v => v -> InMemoryOracle.bfs(a, v).values.map(_.toLong).sum).toMap
    val clos = ns.map(v => v -> (if (far(v) > 0) 1.0 / far(v) else 0.0)).toMap
    val rankOrder = ns.sortBy(v => (-clos(v), v))
    // GTLoader format (GTLoader.java:30-43): closeness/farness indexed by id
    val maxId = ns.max.toInt
    val closArr = (0 to maxId).map(i => clos.getOrElse(i.toLong, 0.0))
    val farArr = (0 to maxId).map(i => far.getOrElse(i.toLong, 0L))
    val json =
      s"""{"nodes": [${rankOrder.mkString(",")}],
         | "closeness": [${closArr.mkString(",")}],
         | "farness": [${farArr.mkString(",")}]}""".stripMargin
    val f = java.nio.file.Files.createTempFile("graft_gt", ".json")
    java.nio.file.Files.writeString(f, json)
    val gt = GroundTruth.read(spark, f.toString)
      .collect().map(r => r.getAs[Long]("id") ->
        (r.getAs[Long]("rank"), r.getAs[Double]("closeness"), r.getAs[Long]("farness"))).toMap
    ns.foreach { v =>
      val (rk, c, fa) = gt(v)
      assert(rk === rankOrder.indexOf(v).toLong)
      assert(approxEqual(c, clos(v)))
      assert(fa === far(v))
    }
    // topkNodes tie-extension (GTLoader.java:46-54)
    val gtDf = GroundTruth.read(spark, f.toString)
    val k = 5
    val topk = GroundTruth.topkNodes(gtDf, k).select("id").as[Long].collect()
    assert(topk.length >= k)
    val kth = clos(rankOrder(k - 1))
    assert(topk.toSet === rankOrder.zipWithIndex
      .filter { case (v, i) => i < k || clos(v) == kth }.map(_._1).toSet)
  }

  test("multi-source BFS resumes from DirMaterializer mid-visit, bit-identical") {
    val edges = erGraph(50, 0.07, seed = 24)
    val adj = adjOf(edges)
    val pivots = Seq(0L, 3L, 11L).toDF("pivot")

    val full = MultiBfs.run(spark, adj, pivots)
      .collect().map(r => (r.getAs[Long]("pivot"), r.getAs[Long]("id")) -> r.getAs[Int]("dist")).toMap

    // phase 1: a complete run, then every superstep after 2 deleted, as a
    // run interrupted after superstep 2 leaves its checkpoints
    val dir = java.nio.file.Files.createTempDirectory("graft_bfs_ckpt").toString
    MultiBfs.run(spark, adj, pivots, mat = new DirMaterializer(spark, dir))
    truncateIters(dir, keep = 2)
    // phase 2: a NEW run resumes from the checkpoints and completes
    var steps = Vector.empty[Int]
    val resumed = MultiBfs.run(spark, adj, pivots, mat = new DirMaterializer(spark, dir),
      onSuperstep = (i, _) => steps :+= i)
      .collect().map(r => (r.getAs[Long]("pivot"), r.getAs[Long]("id")) -> r.getAs[Int]("dist")).toMap
    assert(steps.head === 3)
    assert(resumed === full)
  }

  test("g18 bfs curve invariants (the permanent-oracle-exemption contract)") {
    // g18's BFS counts come from seeded Spark-side sampling no SQL oracle
    // can replay (SparkEntry comment at the query), so its driver row is
    // rows-only FOREVER; every deterministic invariant an oracle would have
    // checked is asserted here instead, on the real query at sf0.001.
    val rows = SparkEntry.queries("g18_bfs_curve")(spark, "/root/testdata/sf0.001")
      .collect()
    assert(rows.map(_.getLong(0)).toSeq === Seq(1L, 20L, 40L, 100L)) // exact k grid
    rows.foreach { r =>
      val (total, apx, steps) = (r.getDouble(1), r.getDouble(2), r.getDouble(3))
      assert(total >= apx && apx >= 0.0, r.toString)
      assert(total > 0.0 && steps > 0.0, r.toString)
    }
  }
}
