package graft

import graft.algo.{BitsetBfs, Chechik, Components, LabelProp, MultiBfs, PageRank}
import graft.core.{DirMaterializer, LocalMaterializer, Supersteps}
import org.apache.spark.graft.TestBus
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.functions._

class MaterializerSpec extends SparkTestBase {

  /** Spark jobs started while `body` runs, counted with a SparkListener. */
  private def jobsDuring[T](body: => T): (T, Int) = {
    val sc = spark.sparkContext
    val jobs = new java.util.concurrent.atomic.AtomicInteger
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = jobs.incrementAndGet()
    }
    TestBus.drain(sc)
    sc.addSparkListener(listener)
    try {
      val out = body
      TestBus.drain(sc)
      (out, jobs.get)
    } finally sc.removeSparkListener(listener)
  }

  test("DirMaterializer.iterate: one Spark job per checkpoint, same frame as an inferring read") {
    val dir = java.nio.file.Files.createTempDirectory("graft_dir_mat").toString
    val mat = new DirMaterializer(spark, dir)
    val df = spark.range(0, 200, 1, 4)
      .select(col("id"), (col("id") % 7).cast("int").as("k"), (col("id") * 0.5).as("x"))
    // one iterate first, so the measured one pays no first-use set-up jobs
    mat.iterate(df, 0, -1.0)
    val (out, jobs) = jobsDuring(mat.iterate(df, 1, -1.0))
    assert(jobs === 1, "the parquet write only: reading it back must not infer the schema")
    val inferred = spark.read.parquet(f"$dir/iter=${1}%05d")
    assert(out.schema === inferred.schema)
    assert(out.orderBy("id").collect().toSeq === inferred.orderBy("id").collect().toSeq)
    assert(out.count() === 200L)
  }

  /** Jobs of a loop's SECOND run: the first pays any first-use set-up jobs. */
  private def loopJobs(run: () => Any): Int = { run(); jobsDuring(run())._2 }

  test("superstep loops: Spark jobs per run pinned for each loop and materializer") {
    import spark.implicits._
    // 29-hop path from both endpoints: BFS depth 29, the last chunk of 4
    // overshoots. The session runs with AQE on, so the counts include the
    // query-stage jobs of every loop that does not pin AQE off.
    val adj = adjOf((0L until 29L).map(i => i -> (i + 1)))
    adj.count()
    val pivots = Seq(0L, 29L).toDF("pivot")
    assert(loopJobs(() => MultiBfs.run(spark, adj, pivots)) === 40, "row BFS")
    assert(loopJobs(() => MultiBfs.run(spark, adj, pivots,
      mat = new LocalMaterializer(window = 1))) === 60, "row BFS, window = 1")
    assert(loopJobs(() => BitsetBfs.visit(spark, adj, pivots, maskCols = 1)) === 12, "bitset BFS")
    assert(loopJobs(() => PageRank.run(spark, adj, maxIter = 2, tol = 1e-6)) === 14, "PageRank")
    assert(loopJobs(() => LabelProp.run(spark, adj, rounds = 1,
      mat = new DirMaterializer(spark,
        java.nio.file.Files.createTempDirectory("graft_lpa_jobs").toString))) === 5, "LabelProp")
    assert(loopJobs(() => Components.run(spark, adj)) === 34, "Components")
  }

  test("chechik with keep-probabilities < 1: Spark jobs per run pinned") {
    // ε = 0.5 on ER(80): estimator, sample visit and several certification
    // batches of k = 5, then the caller's collect
    val adj = adjOf(erGraph(80, 0.06, seed = 8))
    adj.count()
    val jobs = loopJobs(() =>
      Chechik.topkCloseness(spark, adj, k = 5, eps = 0.5, batchSize = 5)._1.collect())
    assert(jobs === 219)
  }

  test("BitsetBfs.visit refuses an evicting materializer before any Spark job") {
    import spark.implicits._
    val adj = adjOf((0L until 29L).map(i => i -> (i + 1)))
    adj.count()
    val pivots = Seq(0L, 29L).toDF("pivot")
    val (err, jobs) = jobsDuring(intercept[IllegalArgumentException] {
      BitsetBfs.visit(spark, adj, pivots, maskCols = 1, mat = new LocalMaterializer(window = 1))
    })
    assert(jobs === 0)
    assert(err.getMessage.contains("evicts iterations"), err.getMessage)
  }

  test("withConfs restores prior values, unsets new keys, also when the body throws") {
    val conf = spark.conf
    val set = "spark.sql.shuffle.partitions"
    val unset = "spark.graft.test.unsetKey"
    val prior = conf.get(set)
    assert(conf.getOption(unset).isEmpty)
    val seen = Supersteps.withConfs(spark, set -> "7", unset -> "x") {
      (conf.get(set), conf.get(unset))
    }
    assert(seen === (("7", "x")))
    assert(conf.get(set) === prior && conf.getOption(unset).isEmpty)
    intercept[IllegalStateException] {
      Supersteps.withConfs(spark, set -> "9", unset -> "y") {
        throw new IllegalStateException("body failed")
      }
    }
    assert(conf.get(set) === prior && conf.getOption(unset).isEmpty)
  }

  test("MultiBfs.run and BitsetBfs.visit leave the session confs they pin as they found them") {
    import spark.implicits._
    val keys = Seq("spark.sql.adaptive.enabled",
      "spark.sql.objectHashAggregate.sortBased.fallbackThreshold",
      "spark.sql.requireAllClusterKeysForCoPartition")
    def confs() = keys.map(spark.conf.getOption)
    val before = confs()
    assert(before.head === Some("true"), "the suite session runs with AQE on")
    val adj = adjOf(path4)
    val pivots = Seq(0L).toDF("pivot")
    MultiBfs.run(spark, adj, pivots)
    assert(confs() === before, "after MultiBfs.run")
    BitsetBfs.visit(spark, adj, pivots, maskCols = 1)
    assert(confs() === before, "after BitsetBfs.visit")
  }
}
