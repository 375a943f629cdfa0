package graft

import graft.algo.{BitsetBfs, Chechik, Components, LabelProp, MultiBfs, PageRank, Visit}
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
    // overshoots. The suite session runs with AQE on, and every loop and
    // PageRank's vertex count plan on an AQE-off loop session, so no count
    // below holds a query-stage job.
    val adj = adjOf((0L until 29L).map(i => i -> (i + 1)))
    adj.count()
    val pivots = Seq(0L, 29L).toDF("pivot")
    assert(loopJobs(() => MultiBfs.run(spark, adj, pivots)) === 40, "row BFS")
    assert(loopJobs(() => MultiBfs.run(spark, adj, pivots,
      mat = new LocalMaterializer(window = 1))) === 60, "row BFS, window = 1")
    assert(loopJobs(() => BitsetBfs.visit(spark, adj, pivots, maskCols = 1)) === 12, "bitset BFS")
    assert(loopJobs(() => PageRank.run(spark, adj, maxIter = 2, tol = 1e-6)) === 7, "PageRank")
    assert(loopJobs(() => LabelProp.run(spark, adj, rounds = 1,
      mat = new DirMaterializer(spark,
        java.nio.file.Files.createTempDirectory("graft_lpa_jobs").toString))) === 3, "LabelProp")
    assert(loopJobs(() => Components.run(spark, adj)) === 2, "Components")
  }

  /** `body` with every visit a `Visit.Selector` makes on the bitset form. */
  private def onBitset[T](body: => T): T = {
    val prior = Visit.bitsetAbove
    try { Visit.bitsetAbove = 0L; body } finally Visit.bitsetAbove = prior
  }

  test("chechik with keep-probabilities < 1: Spark jobs per run pinned") {
    // ε = 0.5 on ER(80): estimator, sample visit and several certification
    // batches of k = 5, then the caller's collect
    val adj = adjOf(erGraph(80, 0.06, seed = 8))
    adj.count()
    val run = () => Chechik.topkCloseness(spark, adj, k = 5, eps = 0.5, batchSize = 5)._1.collect()
    assert(loopJobs(run) === 164, "row visits")
    // every visit on the bitset form, all on the session of the one Prep
    assert(onBitset(loopJobs(run)) === 121, "bitset visits")
  }

  test("a chechik run submits the same jobs from an AQE-on and an AQE-off caller") {
    // the run plans on its own loop session, whatever the caller's AQE; the
    // caller's collect is not counted, since it plans on the caller's session
    val adj = adjOf(erGraph(80, 0.06, seed = 8))
    adj.count()
    val off = spark.newSession()
    off.conf.set("spark.sql.adaptive.enabled", "false")
    assert(spark.conf.get("spark.sql.adaptive.enabled") === "true")
    def jobs(caller: org.apache.spark.sql.SparkSession) =
      loopJobs(() => Chechik.topkCloseness(caller, adj, k = 5, eps = 0.5, batchSize = 5))
    assert(jobs(spark) === jobs(off), "row visits")
    val (bitsetOn, bitsetOff) = onBitset((jobs(spark), jobs(off)))
    assert(bitsetOn === bitsetOff, "bitset visits")
  }

  test("progressive: Spark jobs per run pinned on both visit forms") {
    // 3 batches of 5 on ER(80), then the caller's collect
    val adj = adjOf(erGraph(80, 0.06, seed = 8))
    adj.count()
    val run = () => graft.algo.Progressive.run(spark, adj, batchSize = 5, numBatches = 3).collect()
    assert(loopJobs(run) === 45, "row visits")
    assert(onBitset(loopJobs(run)) === 35, "bitset visits")
  }

  test("BitsetBfs.visit on LocalMaterializer(window = 1): the default's farness") {
    import spark.implicits._
    val adj = adjOf((0L until 29L).map(i => i -> (i + 1)))
    val pivots = Seq(0L, 29L).toDF("pivot")
    def farness(v: graft.algo.Visit) =
      v.farness.collect().map(r => r.getAs[Long]("id") -> r.getAs[Long]("farness")).toMap
    val eager = farness(BitsetBfs.visit(spark, adj, pivots, maskCols = 1,
      mat = new LocalMaterializer(window = 1)))
    assert(eager === farness(BitsetBfs.visit(spark, adj, pivots, maskCols = 1)))
    assert(eager === Map(0L -> (1L to 29L).sum, 29L -> (1L to 29L).sum))
  }

  /** Persistent RDDs `body` adds and leaves behind while its result is held. */
  private def leftDuring[T](body: => T): (T, Int) = {
    val sc = spark.sparkContext
    val before = sc.getPersistentRDDs.keySet
    val out = body
    (out, sc.getPersistentRDDs.keys.count(!before(_)))
  }

  test("superstep loops leave only the checkpoints their results read") {
    import spark.implicits._
    val adj = adjOf((0L until 29L).map(i => i -> (i + 1)))
    adj.count()
    val pivots = Seq(0L, 29L).toDF("pivot")
    // each result reads its final state; the driver freed every state before it
    assert(leftDuring(MultiBfs.run(spark, adj, pivots))._2 === 1, "MultiBfs")
    assert(leftDuring(PageRank.run(spark, adj, maxIter = 10))._2 === 1, "PageRank")
    assert(leftDuring(Components.run(spark, adj))._2 === 1, "Components")
    assert(leftDuring(LabelProp.run(spark, adj, rounds = 9))._2 === 1, "LabelProp")

    val er = adjOf(erGraph(80, 0.06, seed = 8))
    er.count()
    // Chechik's top-k reads the last processed set; Progressive's order reads
    // the vertex set, both accumulators and its rank's checkpoint
    assert(leftDuring(Chechik.topkCloseness(spark, er, k = 5, eps = 0.5, batchSize = 5))._2 === 1,
      "Chechik")
    assert(leftDuring(graft.algo.Progressive.run(spark, er, batchSize = 5, numBatches = 3))._2 === 4,
      "Progressive")
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
    val runs: Seq[(String, () => Any)] = Seq(
      "MultiBfs.run" -> (() => MultiBfs.run(spark, adj, pivots)),
      "BitsetBfs.visit" -> (() => BitsetBfs.visit(spark, adj, pivots, maskCols = 1)),
      "PageRank.run" -> (() => PageRank.run(spark, adj, maxIter = 2)),
      "Components.run" -> (() => Components.run(spark, adj)),
      "LabelProp.run" -> (() => LabelProp.run(spark, adj, rounds = 1)),
      "Chechik.topkCloseness" -> (() => Chechik.topkCloseness(spark, adj, k = 2, eps = 1.5)),
      "Progressive.run" -> (() => graft.algo.Progressive.run(spark, adj, batchSize = 1, numBatches = 2)))
    runs.foreach { case (name, run) =>
      run()
      assert(confs() === before, s"after $name")
    }
  }

  test("Supersteps.session reuses a loop session it made and clones every caller's") {
    val rule = "spark.sql.requireAllClusterKeysForCoPartition"
    val run = Supersteps.session(spark)
    assert(!(run eq spark))
    assert(Supersteps.session(run) eq run, "a run's session")
    val tile = Seq("spark.sql.objectHashAggregate.sortBased.fallbackThreshold" -> "4194304", rule -> "false")
    val bitset = Supersteps.session(run, tile: _*)
    assert(!(bitset eq run), "a run's session, asked for other confs")
    assert(Supersteps.session(bitset, tile: _*) eq bitset, "a bitset session")
    assert(Supersteps.session(bitset).conf.get(rule) === "true", "a bitset session, asked for a run's")
    val caller = spark.newSession()
    caller.conf.set("spark.sql.adaptive.enabled", "false")
    caller.conf.set(rule, "true")
    assert(!(Supersteps.session(caller) eq caller), "a caller's session with every loop conf set")
  }

  test("MultiBfs.run is exact from a caller whose co-partitioning rule is off") {
    // off, the first merge join could keep iteration 0's hash(pivot)
    // placement, under the hash(pivot, id) the loop asserts for its state
    val caller = spark.newSession()
    caller.conf.set("spark.sql.shuffle.partitions", "3")
    caller.conf.set("spark.sql.requireAllClusterKeysForCoPartition", "false")
    import caller.implicits._
    val edges = erGraph(60, 0.07, seed = 10)
    val adj = graft.core.Graph.adjacency(graft.core.Graph.symmetrize(edges.toDF("src", "dst"))).cache()
    val pivots = Seq(0L, 7L, 13L)
    val got = MultiBfs.run(caller, adj, pivots.toDF("pivot")).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSeq
    val oracle = InMemoryOracle.adj(edges)
    val want = pivots.flatMap(p => InMemoryOracle.bfs(oracle, p).map { case (v, d) => (p, v, d) })
    assert(got.size === want.size)
    assert(got.toSet === want.toSet)
    adj.unpersist()
  }

  test("concurrent MultiBfs.run and BitsetBfs.visit calls on one session: exact, and the caller's AQE never changes") {
    import spark.implicits._
    val edges = erGraph(60, 0.07, seed = 10)
    val adj = adjOf(edges)
    adj.count()
    // a loop's session reads the caller's cached adjacency from the shared CacheManager
    val loopAdj = org.apache.spark.sql.graft.CheckpointStats.bind(adj, Supersteps.session(spark))
    assert(loopAdj.queryExecution.withCachedData.exists(
      _.isInstanceOf[org.apache.spark.sql.execution.columnar.InMemoryRelation]))
    val oracle = InMemoryOracle.adj(edges)
    def expected(ps: Seq[Long]) =
      ps.flatMap(p => InMemoryOracle.bfs(oracle, p).map { case (v, d) => (p, v, d) }).toSet
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
    val runs: Seq[(Seq[Long], Seq[Long] => Set[(Long, Long, Int)])] = Seq(
      (Seq(0L, 7L), ps => rows(MultiBfs.run(spark, adj, ps.toDF("pivot")))),
      (Seq(13L, 21L), ps => rows(MultiBfs.run(spark, adj, ps.toDF("pivot")))),
      (Seq(3L, 40L), ps => rows(BitsetRows(BitsetBfs.visit(spark, adj, ps.toDF("pivot"), maskCols = 1)))))
    val aqe = "spark.sql.adaptive.enabled"
    assert(spark.conf.get(aqe) === "true", "the suite session runs with AQE on")
    @volatile var done = false
    val changed = new java.util.concurrent.atomic.AtomicLong
    val poller = new Thread(() => while (!done) { if (spark.conf.get(aqe) != "true") changed.incrementAndGet() })
    poller.start()
    val pool = java.util.concurrent.Executors.newFixedThreadPool(runs.size)
    try {
      val got = runs.map { case (ps, run) => pool.submit(() => run(ps)) }.map(_.get())
      runs.zip(got).foreach { case ((ps, _), g) => assert(g === expected(ps), ps) }
    } finally {
      done = true
      poller.join()
      pool.shutdown()
    }
    assert(changed.get === 0L, "reads of the caller's AQE that were not \"true\" during the runs")
    assert(spark.conf.get(aqe) === "true")
  }
}
