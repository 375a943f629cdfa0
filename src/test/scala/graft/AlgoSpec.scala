package graft

import graft.algo.{PageRank, Components, LabelProp, Triangles, Chechik, MultiBfs, BitsetBfs, Geometric, Visit}
import graft.core.{Graph, DirMaterializer, LocalMaterializer, Materializer}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

class AlgoSpec extends SparkTestBase {
  import spark.implicits._

  test("pagerank: uniform on cycle4; sums to 1") {
    val adj = adjOf(cycle4)
    val r = PageRank.run(spark, adj, maxIter = 20, tol = 1e-9).ranks
      .collect().map(x => x.getAs[Long]("id") -> x.getAs[Double]("pr")).toMap
    (0L to 3L).foreach(v => assert(approxEqual(r(v), 0.25)))
    assert(approxEqual(r.values.sum, 1.0))
  }

  test("pagerank matches in-memory oracle to 1e-6 convergence on ER graph") {
    val edges = erGraph(60, 0.08, seed = 4)
    val adj = adjOf(edges)
    val res = PageRank.run(spark, adj, maxIter = 200, tol = 1e-9)
    val got = res.ranks.collect().map(x => x.getAs[Long]("id") -> x.getAs[Double]("pr")).toMap
    val a = InMemoryOracle.adj(edges)
    val exp = InMemoryOracle.pagerank(a, InMemoryOracle.nodes(edges), 0.85, 200, 1e-9)
    exp.foreach { case (v, e) => assert(approxEqual(got(v), e), s"pr($v): ${got(v)} vs $e") }
  }

  test("pagerank chained supersteps: identical results and telemetry to the eager loop") {
    // convergence lands mid-chunk (first delta ≤ tol picked INSIDE a chain
    // of 4): ranks, iteration count, final delta and per-step (iter, delta)
    // telemetry must all match the eager loop bit-for-bit — the chained
    // path computes the same recurrence, just u supersteps per job. The
    // eager leg's materializer has chain capacity 1.
    val adj = adjOf(erGraph(60, 0.08, seed = 4))
    def leg(mat: Materializer, maxIter: Int = 200, tol: Double = 1e-6) = {
      var tel = Vector.empty[(Int, Double)]
      val res = PageRank.run(spark, adj, maxIter = maxIter, tol = tol, mat = mat,
        onSuperstep = (i, d) => tel :+= ((i, d)))
      val ranks = res.ranks.collect()
        .map(x => x.getAs[Long]("id") -> x.getAs[Double]("pr")).toMap
      (ranks, res.iterations, res.finalDelta, tel)
    }
    val (eagerRanks, eagerIters, eagerDelta, eagerTel) = leg(new LocalMaterializer(window = 1))
    val (chainRanks, chainIters, chainDelta, chainTel) = leg(new LocalMaterializer(window = 4))
    assert(chainIters === eagerIters)
    assert(chainDelta === eagerDelta)
    assert(chainTel === eagerTel)
    assert(chainRanks === eagerRanks)
    assert(eagerIters % 4 !== 0, "want convergence mid-chunk to exercise overshoot")

    // fixed-iteration mode (tol = 0): fixed rounds on both materializers
    val fixedEager = leg(new LocalMaterializer(window = 1), maxIter = 10, tol = 0.0)
    val fixedChain = leg(new LocalMaterializer(window = 4), maxIter = 10, tol = 0.0)
    assert(fixedEager._2 === 10 && fixedChain._2 === 10)
    fixedEager._1.foreach { case (v, e) =>
      assert(java.lang.Double.doubleToLongBits(fixedChain._1(v)) ===
        java.lang.Double.doubleToLongBits(e), s"fixed-iteration rank differs at $v")
    }
  }

  test("components: exact labels on twocomp and disconnected ER") {
    // also stars, a path, a cycle, K5, ER graphs at two densities and a
    // hand-built adjacency with duplicated neighbours
    def check(name: String, adj: DataFrame, edges: Seq[(Long, Long)]): Components.Result = {
      val res = Components.run(spark, adj)
      val got = res.labels.collect().map(r => r.getAs[Long]("id") -> r.getAs[Long]("label")).toMap
      assert(got === InMemoryOracle.components(InMemoryOracle.adj(edges), InMemoryOracle.nodes(edges)), name)
      res
    }
    def shape(name: String, edges: Seq[(Long, Long)]) = check(name, adjOf(edges), edges)
    shape("twocomp", twocomp)
    shape("sparse ER", erGraph(40, 0.04, seed = 5)) // several components
    assert(shape("star", star5).iterations === 1, "an input that already is a star keeps one round")
    assert(shape("two disjoint stars", star5 ++ (11L to 14L).map(10L -> _)).iterations === 1)
    shape("path", (0L until 20L).map(i => i -> (i + 1)))
    shape("cycle", (0L until 12L).map(i => i -> ((i + 1) % 12)))
    shape("K5", for (i <- 0L until 5L; j <- (i + 1) until 5L) yield i -> j)
    for (seed <- 1 to 5; p <- Seq(0.04, 0.12)) shape(s"ER(40, $p) seed $seed", erGraph(40, p, seed))
    // the path 0-1-2-3 with every neighbour listed twice: the contraction
    // reads the duplicates, the star check only distinct'd rounds
    val dup = Seq(0L -> Seq(1L, 1L), 1L -> Seq(0L, 2L, 0L, 2L), 2L -> Seq(1L, 3L, 3L, 1L), 3L -> Seq(2L, 2L))
      .toDF("src", "neighbors")
    check("duplicated neighbours", dup, path4)
  }

  /** A `LocalMaterializer` that counts the rounds a loop computes: every
    * checkpoint after iteration 0.
    */
  private final class RoundCounter(window: Int) extends Materializer {
    private val local = new LocalMaterializer(window)
    var computed = 0
    private def counted(df: DataFrame, iter: Int) = { if (iter > 0) computed += 1; df }
    override def iterate(df: DataFrame, iter: Int, metric: Double): DataFrame =
      counted(local.iterate(df, iter, metric), iter)
    override def iterateDeferred(df: DataFrame, iter: Int, metric: Double): DataFrame =
      counted(local.iterateDeferred(df, iter, metric), iter)
    override def chainCapacity: Int = local.chainCapacity
  }

  test("components: rounds kept against rounds computed") {
    // the loop keeps the first star-forest round; the rest of its chunk is
    // computed and released, so an input that already is a star still
    // pays a whole chunk
    def path(n: Long) = (0L until n - 1).map(i => i -> (i + 1))
    val cases = Seq(
      ("256-vertex path", path(256), 3, (8, 9)),
      ("256-vertex path, chunks of 4", path(256), 0, (8, 8)),
      ("30-vertex path", path(30), 3, (5, 6)),
      ("20-leaf star", (1L to 20L).map(0L -> _), 3, (1, 3)),
      ("self loops only", Seq(0L -> 0L, 1L -> 1L, 2L -> 2L), 3, (1, 3)))
    cases.foreach { case (name, edges, window, want) =>
      val mat = new RoundCounter(window)
      val res = Components.run(spark, adjOf(edges), mat = mat)
      assert((res.iterations, mat.computed) === want, s"$name: (kept, computed)")
    }
  }

  test("components: large-star/small-star rounds ≪ diameter on a path graph") {
    // hash-min would need 255 supersteps here; Two-Phase contracts in O(log n)
    val n = 256
    val path = (0L until (n - 1).toLong).map(i => i -> (i + 1))
    val res = Components.run(spark, adjOf(path))
    assert(res.iterations <= 20, s"rounds ${res.iterations} not ≪ diameter ${n - 1}")
    val labels = res.labels.collect().map(r => r.getAs[Long]("label")).distinct.toSeq
    assert(labels === Seq(0L))
  }

  test("components resumes from DirMaterializer after a maxIter cap: same labels and rounds") {
    // a 64-vertex path needs several rounds; the ER part adds components.
    // Components.run takes no round cap, so the cap is made on the
    // checkpoints: every round after 2 is deleted before the resume
    val edges = erGraph(40, 0.04, seed = 5) ++ (100L until 163L).map(i => i -> (i + 1))
    val adj = adjOf(edges)
    def labels(r: Components.Result) =
      r.labels.collect().map(x => x.getAs[Long]("id") -> x.getAs[Long]("label")).toMap
    val fresh = Components.run(spark, adj)
    assert(fresh.iterations > 2, "want the interruption to cut the run short")
    val dir = java.nio.file.Files.createTempDirectory("graft_cc_ckpt").toString
    // phase 1: a complete run, then every round after 2 deleted, as a run
    // interrupted after round 2 leaves its checkpoints
    assert(Components.run(spark, adj, mat = new DirMaterializer(spark, dir))
      .iterations === fresh.iterations)
    truncateIters(dir, keep = 2)
    // phase 2: a NEW run resumes at round 2 and runs to the fixpoint
    var rounds = Vector.empty[Int]
    val resumed = Components.run(spark, adj, mat = new DirMaterializer(spark, dir),
      onSuperstep = (i, _) => rounds :+= i)
    assert(rounds === (3 to fresh.iterations))
    assert(resumed.iterations === fresh.iterations)
    assert(labels(resumed) === labels(fresh))
  }

  test("components on a self-loop-only graph: own-id labels, one kept round") {
    // every edge is a self loop, so the oriented edge set is empty and
    // already a star forest: the first round passes the check and is kept
    val res = Components.run(spark, adjOf(Seq(0L -> 0L, 1L -> 1L, 2L -> 2L)))
    val got = res.labels.collect().map(r => r.getAs[Long]("id") -> r.getAs[Long]("label")).toMap
    assert(got === Map(0L -> 0L, 1L -> 1L, 2L -> 2L))
    assert(res.iterations === 1)
  }

  test("label propagation matches in-memory oracle (4 synchronous rounds)") {
    val edges = erGraph(50, 0.08, seed = 6)
    val got = LabelProp.run(spark, adjOf(edges), rounds = 4)
      .collect().map(r => r.getAs[Long]("id") -> r.getAs[Long]("label")).toMap
    val exp = InMemoryOracle.lpa(InMemoryOracle.adj(edges), InMemoryOracle.nodes(edges), 4)
    assert(got === exp)
  }

  test("label propagation chained rounds: identical labels to the eager loop") {
    // rounds = 6 in chunks of 4 exercises a full chunk plus a partial one;
    // the eager leg's materializer has chain capacity 1
    val adj = adjOf(erGraph(50, 0.08, seed = 6))
    def leg(mat: Materializer) = LabelProp.run(spark, adj, rounds = 6, mat = mat)
      .collect().map(r => r.getAs[Long]("id") -> r.getAs[Long]("label")).toMap
    assert(leg(new LocalMaterializer(window = 4)) === leg(new LocalMaterializer(window = 1)))
  }

  test("label propagation resumes from DirMaterializer: 2 rounds then 4 equals 4 rounds") {
    val adj = adjOf(erGraph(50, 0.08, seed = 6))
    def labels(df: DataFrame) =
      df.collect().map(r => r.getAs[Long]("id") -> r.getAs[Long]("label")).toMap
    val fresh = labels(LabelProp.run(spark, adj, rounds = 4))
    val dir = java.nio.file.Files.createTempDirectory("graft_lpa_ckpt").toString
    LabelProp.run(spark, adj, rounds = 2, mat = new DirMaterializer(spark, dir))
    val resumed = labels(LabelProp.run(spark, adj, rounds = 4, mat = new DirMaterializer(spark, dir)))
    assert(resumed === fresh)
    assert(fresh !== labels(LabelProp.run(spark, adj, rounds = 2)), "want rounds 3-4 to change labels")
  }

  test("row-bfs chained supersteps: identical dists and telemetry to the eager loop") {
    // 29-hop path from both endpoints: BFS depth 29 ends mid-chunk in
    // chunks of 4 — dist rows and per-step (d, frontier-count) telemetry
    // must match the eager loop (chain capacity 1) exactly, including the
    // observed zero frontier
    val path = (0L until 29L).map(i => i -> (i + 1))
    val adj = adjOf(path)
    val pivots = Seq(0L, 29L).toDF("pivot")
    def leg(mat: Materializer) = {
      var tel = Vector.empty[(Int, Long)]
      val rows = MultiBfs.run(spark, adj, pivots, mat = mat,
        onSuperstep = (d, c) => tel :+= ((d, c)))
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
      (rows, tel)
    }
    val (eagerRows, eagerTel) = leg(new LocalMaterializer(window = 1))
    val (chainRows, chainTel) = leg(new LocalMaterializer(window = 4))
    assert(chainRows === eagerRows)
    assert(chainTel === eagerTel)
    assert(eagerTel.last._2 === 0L)
  }

  test("row-bfs states sit in their asserted hash(pivot, id) partitions") {
    // stripState asserts HashPartitioning(pivot, id) on every superstep
    // state; check the rows of the kept state against the partition Spark's
    // hash exchange would pick: pmod(Murmur3 seed 42, P), which SQL `hash`
    // computes. A path from pivot 100 one to four hops longer than any ER
    // distance sets the visit's depth, so the kept state (the first empty
    // frontier) falls at each position of a chunk of 4.
    val er = erGraph(60, 0.07, seed = 10)
    val a = InMemoryOracle.adj(er)
    val erDepth = Seq(0L, 7L, 13L).map(p => InMemoryOracle.bfs(a, p).values.max).max
    val pivots = Seq(0L, 7L, 13L, 100L).toDF("pivot")
    // the loop's session inherits the partition count from the caller's
    val prior = spark.conf.get("spark.sql.shuffle.partitions")
    for (depth <- erDepth + 1 to erDepth + 4) {
      val adj = adjOf(er ++ (100L until 100L + depth).map(i => i -> (i + 1)))
      for (p <- Seq(3, 7)) {
        spark.conf.set("spark.sql.shuffle.partitions", p.toString)
        val state = try MultiBfs.run(spark, adj, pivots)
          finally spark.conf.set("spark.sql.shuffle.partitions", prior)
        assert(state.rdd.getNumPartitions === p)
        val misplaced = state
          .where(spark_partition_id() =!= pmod(hash(col("pivot"), col("id")), lit(p)))
          .count()
        assert(misplaced === 0L, s"P = $p, depth = $depth")
        assert(state.agg(max("dist")).head().getInt(0) === depth, s"P = $p, depth = $depth")
      }
      adj.unpersist()
    }
  }

  test("triangles: k4 has 4 global, 3 per vertex; matches oracle on ER") {
    import spark.implicits._
    val canonK4 = Graph.canonicalize(k4.toDF("src", "dst"))
    assert(Triangles.globalCount(spark, canonK4).head().getLong(0) === 4L)
    val pv = Triangles.perVertex(spark, canonK4)
      .collect().map(r => r.getAs[Long]("id") -> r.getAs[Long]("triangles")).toMap
    (0L to 3L).foreach(v => assert(pv(v) === 3L))

    val edges = erGraph(60, 0.1, seed = 7)
    val canon = Graph.canonicalize(edges.toDF("src", "dst"))
    val exp = InMemoryOracle.triangles(InMemoryOracle.adj(edges), InMemoryOracle.nodes(edges))
    assert(Triangles.globalCount(spark, canon).head().getLong(0) === exp)
  }

  test("chechik certified top-k equals exact top-k (tie-extended)") {
    val edges = erGraph(80, 0.06, seed = 8)
    val adj = adjOf(edges)
    val k = 5
    val (topk, tel) = Chechik.topkCloseness(spark, adj, k = k)
    val got = topk.collect().map(_.getAs[Long]("id"))
    val expected = exactTopk(edges, k)
    assert(got.toSet === expected, s"got ${got.toSet} vs $expected")
    // ε = 0.1 ⇒ K = ⌈ln 80 / 0.01⌉ ≥ n: every keep-probability is 1, so the
    // estimator is skipped and the one n-source sample visit is the whole run
    assert(tel.n === InMemoryOracle.nodes(edges).size.toLong)
    assert(tel.initialPivots === 0L && tel.exactBfs === 0L)
    assert(tel.sampleSize === tel.n && tel.totalBfs === tel.n)
    assert(tel.supersteps > 0)
  }

  test("chechik with keep-probabilities < 1: exact top-k, each source's farness computed once") {
    keepProbabilitiesBelowOne()
  }

  test("chechik with keep-probabilities < 1 on bitset visits: same assertions") {
    // lowering the selector's threshold sends every visit of the run —
    // estimator, sample and certification batches — to the bitset form
    val prior = Visit.bitsetAbove
    try {
      Visit.bitsetAbove = 0L
      val adj = adjOf(path4)
      assert(new Visit.Selector(adj, n = 4)(Seq(0L).toDF("pivot"), 1L)
        .isInstanceOf[BitsetBfs.Visit])
      keepProbabilitiesBelowOne()
    } finally Visit.bitsetAbove = prior
  }

  /** ε = 0.5 Chechik run on ER(80): exact top-k, and the certification
    * loop's processed set holds each source's exact farness exactly once.
    */
  private def keepProbabilitiesBelowOne(): Unit = {
    val edges = erGraph(80, 0.06, seed = 8)
    val adj = adjOf(edges)
    val k = 5
    // every certification batch hands the processed set — the sample
    // visit's exact farness rows plus one row per batch source so far — to
    // the materializer: record what it holds
    val seen = collection.mutable.Buffer.empty[Seq[(Long, Long)]]
    val recording = new Materializer {
      private val inner = new LocalMaterializer(window = 0)
      override def iterate(df: DataFrame, iter: Int, metric: Double): DataFrame = {
        val out = inner.iterate(df, iter, metric)
        seen += out.select("id", "farness").collect().map(r => r.getLong(0) -> r.getLong(1)).toSeq
        out
      }
    }
    // ε = 0.5 ⇒ K = 18 < n; batchSize = k makes the certification loop
    // schedule the unsampled vertices over several batches
    val (topk, tel) = Chechik.topkCloseness(spark, adj, k = k, eps = 0.5, batchSize = k,
      mat = recording)
    val got = topk.collect().map(_.getAs[Long]("id"))
    val expected = exactTopk(edges, k)
    assert(got.toSet === expected, s"got ${got.toSet} vs $expected; $tel")
    assert(tel.initialPivots > 0, tel)
    assert(tel.sampleSize < tel.n, tel)
    assert(seen.nonEmpty, s"certification loop never ran; $tel")
    // a vertex both sampled and scheduled for certification, or scheduled
    // twice, would show up as a repeated id
    seen.foreach { rows =>
      val ids = rows.map(_._1)
      assert(ids.distinct.size === ids.size, s"farness computed twice for ${ids.diff(ids.distinct)}")
    }
    assert(seen.last.size.toLong === tel.sampleSize + tel.exactBfs, tel)
    // the reused sample-visit farness is exact, like the batch farness
    val a = InMemoryOracle.adj(edges)
    seen.last.foreach { case (v, f) =>
      assert(f === InMemoryOracle.geometric(a, v).farness, s"farness($v)")
    }
    assert(tel.totalBfs === tel.initialPivots + tel.sampleSize + tel.exactBfs)
  }

  /** Exact closeness top-k: farness ascending, ties on the k-th extended. */
  private def exactTopk(edges: Seq[(Long, Long)], k: Int): Set[Long] = {
    val a = InMemoryOracle.adj(edges)
    val far = InMemoryOracle.nodes(edges)
      .map(v => v -> InMemoryOracle.geometric(a, v).farness).sortBy(x => (x._2, x._1))
    val kth = far(k - 1)._2
    far.takeWhile(_._2 <= kth).map(_._1).toSet
  }

  test("chechik estimator coefficients: closed form on path P3") {
    // P3 symmetrized: 0-1-2. F(0)=3, F(1)=2, F(2)=3 (pivot=all vertices).
    // λ(0) = max(d(1,0)/2, d(2,0)/3) = max(0.5, 2/3) = 2/3; λ(1) = 1/3
    // (floor 1/n = 1/3 equals max ratio 1/3); λ(2) = 2/3.
    // K = ⌈ln 3/0.01⌉ = 110 ⇒ p = min(1, K·λ) = 1 everywhere.
    val edges = Seq(0L -> 1L, 1L -> 2L)
    val sym = Graph.symmetrize(edges.toDF("src", "dst"))
    val adj = Graph.adjacency(sym)
    val verts = Graph.vertices(sym)
    val pivots = verts.select(col("id").as("pivot"))
    // both visit forms must produce the same coefficients
    Seq[(String, () => Visit)](
      "row" -> (() => MultiBfs.visit(spark, adj, pivots)),
      "bitset" -> (() => BitsetBfs.visit(spark, adj, pivots, maskCols = 1))
    ).foreach { case (form, visit) =>
      val v = visit()
      val got = Chechik.estimatorCoefficients(v, verts, n = 3)
        .collect().map(r => r.getAs[Long]("id") -> (r.getAs[Double]("lambda"), r.getAs[Double]("p"))).toMap
      v.release()
      assert(approxEqual(got(0L)._1, 2.0 / 3), s"form=$form")
      assert(approxEqual(got(1L)._1, 1.0 / 3), s"form=$form")
      assert(approxEqual(got(2L)._1, 2.0 / 3), s"form=$form")
      got.values.foreach { case (_, p) => assert(approxEqual(p, 1.0)) }
    }
  }

  test("pagerank resumes from DirMaterializer checkpoint with identical result") {
    val edges = erGraph(50, 0.08, seed = 9)
    val adj = adjOf(edges)
    // baseline: uninterrupted run through the SAME parquet materializer
    // (double-sum order depends on scan order, so the fair baseline also
    // round-trips each iteration through parquet)
    val dirFull = java.nio.file.Files.createTempDirectory("graft_ckpt_full").toString
    val full = PageRank.run(spark, adj, maxIter = 8, tol = 0.0,
        mat = new DirMaterializer(spark, dirFull)).ranks
      .collect().map(x => x.getAs[Long]("id") -> x.getAs[Double]("pr")).toMap

    val dir = java.nio.file.Files.createTempDirectory("graft_ckpt").toString
    // phase 1: run only 3 iterations, checkpointing each to dir
    PageRank.run(spark, adj, maxIter = 3, tol = 0.0, mat = new DirMaterializer(spark, dir))
    // phase 2: a NEW run resumes at iteration 3 and finishes to 8
    val resumed = PageRank.run(spark, adj, maxIter = 8, tol = 0.0, mat = new DirMaterializer(spark, dir))
    assert(resumed.iterations === 8)
    val got = resumed.ranks.collect().map(x => x.getAs[Long]("id") -> x.getAs[Double]("pr")).toMap
    // byte-identical: same double bits, not just allclose
    full.foreach { case (v, e) =>
      assert(java.lang.Double.doubleToLongBits(got(v)) === java.lang.Double.doubleToLongBits(e),
        s"resume not bit-identical at $v")
    }
  }

  test("pagerank resumes from the iteration before a checkpoint without metadata") {
    // a run cut between the parquet commit and the metadata write leaves its
    // last iter=* directory without _graft_meta.json: a resumed run must
    // start from the iteration before it and still equal an uninterrupted run
    val adj = adjOf(erGraph(50, 0.08, seed = 9))
    def ranks(r: PageRank.Result) =
      r.ranks.collect().map(x => x.getAs[Long]("id") -> x.getAs[Double]("pr")).toMap
    val dirFull = java.nio.file.Files.createTempDirectory("graft_ckpt_full").toString
    val full = ranks(PageRank.run(spark, adj, maxIter = 8, tol = 0.0,
      mat = new DirMaterializer(spark, dirFull)))
    val dir = java.nio.file.Files.createTempDirectory("graft_ckpt_nometa").toString
    PageRank.run(spark, adj, maxIter = 3, tol = 0.0, mat = new DirMaterializer(spark, dir))
    val meta = java.nio.file.Paths.get(f"$dir/iter=${3}%05d/_graft_meta.json")
    java.nio.file.Files.delete(meta)
    var steps = Vector.empty[Int]
    val resumed = PageRank.run(spark, adj, maxIter = 8, tol = 0.0,
      mat = new DirMaterializer(spark, dir), onSuperstep = (i, _) => steps :+= i)
    assert(steps === (3 to 8), "resume from iteration 2, the last one with metadata")
    assert(resumed.iterations === 8)
    val got = ranks(resumed)
    full.foreach { case (v, e) =>
      assert(java.lang.Double.doubleToLongBits(got(v)) === java.lang.Double.doubleToLongBits(e),
        s"resume not bit-identical at $v")
    }
  }

  test("multi-source BFS over an empty source set: no rows, no superstep") {
    // the first chunk's job counts the empty starting frontier and stops
    val adj = adjOf(path4)
    var steps = Vector.empty[(Int, Long)]
    val rows = MultiBfs.run(spark, adj, Seq.empty[Long].toDF("pivot"),
      onSuperstep = (d, c) => steps :+= ((d, c))).collect()
    assert(rows.isEmpty)
    assert(steps.isEmpty)
  }

  test("both visit forms reach every vertex of a 300-hop path at its exact distance") {
    // no depth limit: like the reference's visit, each form stops only at
    // its empty frontier, here 300 supersteps from vertex 0
    val adj = adjOf((0L until 300L).map(i => i -> (i + 1)))
    val pivots = Seq(0L).toDF("pivot")
    val expected = (0L to 300L).map(v => (0L, v, v.toInt)).toSet
    def rows(df: DataFrame) = df.collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
    assert(rows(MultiBfs.run(spark, adj, pivots)) === expected, "row BFS")
    assert(rows(BitsetRows(BitsetBfs.visit(spark, adj, pivots, maskCols = 1))) === expected,
      "bitset BFS")
  }

  test("multi-source BFS distances match oracle on ER graph") {
    val edges = erGraph(60, 0.07, seed = 10)
    val adj = adjOf(edges)
    val pivots = Seq(0L, 7L, 13L).toDF("pivot")
    val got = MultiBfs.run(spark, adj, pivots)
      .collect().map(r => (r.getAs[Long]("pivot"), r.getAs[Long]("id")) -> r.getAs[Int]("dist")).toMap
    val a = InMemoryOracle.adj(edges)
    Seq(0L, 7L, 13L).foreach { p =>
      val exp = InMemoryOracle.bfs(a, p)
      exp.foreach { case (v, d) => assert(got((p, v)) === d, s"dist($p,$v)") }
      assert(got.keys.count(_._1 == p) === exp.size)
    }
  }

  test("bitset BFS ≡ row BFS (multi-wave, multi-column, disconnected)") {
    val edges = erGraph(80, 0.05, seed = 11) ++ Seq(200L -> 201L) // + far component
    val adj = adjOf(edges)
    // 40 pivots over maskCols=1 forces nothing; maskCols=1 with >64 pivots
    // would force waves — use 40 pivots with 1 column AND all-vertex pivots
    // with 2 columns to cover both packing regimes
    val pivots40 = (0L until 40L).toDF("pivot")
    val rows = MultiBfs.run(spark, adj, pivots40)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
    val bits = BitsetRows(BitsetBfs.visit(spark, adj, pivots40, maskCols = 1))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
    assert(bits === rows)

    val allPivots = Graph.vertices(edgeDf(edges)).select(col("id").as("pivot"))
    val rowsAll = MultiBfs.run(spark, adj, allPivots)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
    val bitsAll = BitsetRows(BitsetBfs.visit(spark, adj, allPivots, maskCols = 2)) // n≈82 → waves of 128
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
    assert(bitsAll === rowsAll)
  }

  test("bitset BFS over two waves on a DirMaterializer: same farness as local checkpoints") {
    // 100 pivots at 64 per wave: wave 1's iterations must not rewrite the
    // iter=* directories wave 0's increments still read
    val adj = adjOf(erGraph(200, 0.03, seed = 12))
    val pivots = (0L until 100L).toDF("pivot")
    def farness(mat: Materializer) =
      BitsetBfs.visit(spark, adj, pivots, maskCols = 1, mat = mat).farness
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val dir = java.nio.file.Files.createTempDirectory("graft_bitset_dir").toString
    val local = farness(new LocalMaterializer(window = 0))
    assert(local.size === 100)
    assert(farness(new DirMaterializer(spark, dir)) === local)
  }

  test("large-P distributed pivot minting ≡ small-P driver fast path") {
    // round-4 verdict #4: the distributed Rank.globalRank minting branch
    // (the path a web-scale Chechik sample takes, P > 64k) only engaged
    // above the cap, which no sf-level query reaches — force it by lowering
    // the cap and assert bit-identical output on the same pivot set
    val edges = erGraph(60, 0.07, seed = 17)
    val adj = adjOf(edges)
    val pivots = (0L until 8L).toDF("pivot")
    def dists() = BitsetRows(BitsetBfs.visit(spark, adj, pivots, maskCols = 1))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
    val small = dists() // default cap: driver-numbered local index
    val prior = BitsetBfs.smallPivotCap
    val large =
      try { BitsetBfs.smallPivotCap = 4; dists() } // 8 pivots > 4 → globalRank
      finally BitsetBfs.smallPivotCap = prior
    assert(large === small)
    assert(small.nonEmpty)
  }

  test("chained supersteps: identical results and telemetry to the eager loop") {
    // long path ⇒ many supersteps; chunks of 4 overshoot past the empty
    // frontier on the final chunk — results and reported (step, count)
    // telemetry must still match the eager loop exactly (counts within a
    // chunk are monotone to zero: an empty frontier sends no messages).
    // The eager leg's materializer checkpoints eagerly and has the default
    // chain capacity of 1.
    val path = (0L until 29L).map(i => i -> (i + 1))
    val adj = adjOf(path)
    val pivots = Seq(0L, 29L).toDF("pivot")
    val eager = new Materializer {
      def iterate(df: DataFrame, iter: Int, metric: Double): DataFrame = df.localCheckpoint(true)
    }
    def leg(mat: Materializer) = {
      var tel = Vector.empty[(Int, Long)]
      val rows = BitsetRows(BitsetBfs.visit(spark, adj, pivots, maskCols = 1, mat = mat,
        onSuperstep = (d, c) => tel :+= ((d, c))))
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
      (rows, tel)
    }
    val (eagerRows, eagerTel) = leg(eager)
    val (chainRows, chainTel) = leg(new LocalMaterializer(window = 0))
    assert(chainRows === eagerRows)
    assert(chainTel === eagerTel)
    assert(eagerTel.last._2 === 0L) // both observed the converged frontier
  }

  test("bitset farness + reverse sum/max histograms match row-BFS accumulations") {
    val edges = erGraph(70, 0.06, seed = 13)
    val adj = adjOf(edges)
    val pivots = (0L until 70L).toDF("pivot")
    val v = BitsetBfs.visit(spark, adj, pivots, maskCols = 1) // 2 waves
    val dist = MultiBfs.run(spark, adj, pivots).localCheckpoint(true)

    val farRow = dist.groupBy("pivot").agg(sum("dist").cast("long").as("f"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val farBits = v.farness
      .collect().map(r => r.getAs[Long]("id") -> r.getAs[Long]("farness")).toMap
    (0L until 70L).foreach { p =>
      assert(farBits(p) === farRow.getOrElse(p, 0L), s"farness($p)")
    }

    val divs = (0L until 70L).map(p => (p, (p % 7 + 1).toDouble)).toDF("pivot", "div")
    val sumRow = dist.join(divs, "pivot")
      .groupBy("id").agg(sum(col("dist").cast("double") / col("div")).as("s"))
      .collect().map(r => r.getAs[Long]("id") -> r.getAs[Double]("s")).toMap
    val sumBits = v.reverseSum(divs)
      .collect().map(r => r.getAs[Long]("id") -> r.getAs[Double]("value")).toMap
    assert(sumBits.keySet === sumRow.keySet)
    sumRow.foreach { case (i, s) => assert(approxEqual(s, sumBits(i)), s"revSum($i)") }

    val maxRow = dist.join(divs, "pivot")
      .groupBy("id").agg(max(col("dist").cast("double") / col("div")).as("s"))
      .collect().map(r => r.getAs[Long]("id") -> r.getAs[Double]("s")).toMap
    val maxBits = v.reverseMax(divs)
      .collect().map(r => r.getAs[Long]("id") -> r.getAs[Double]("value")).toMap
    assert(maxBits.keySet === maxRow.keySet)
    maxRow.foreach { case (i, s) => assert(approxEqual(s, maxBits(i)), s"revMax($i)") }

    // divisor-less pivots (round-3 advice): a target reached ONLY by pivots
    // absent from `divisors` must be ABSENT from the reverse aggregates —
    // the row form inner-joins divisors before grouping. Keep just pivot 0's
    // divisor: every target outside pivot 0's component must disappear.
    val divsOnly0 = Seq((0L, 2.0)).toDF("pivot", "div")
    val rowOnly0 = dist.join(divsOnly0, "pivot")
      .groupBy("id").agg(sum(col("dist").cast("double") / col("div")).as("s"))
      .collect().map(r => r.getAs[Long]("id") -> r.getAs[Double]("s")).toMap
    val bitsOnly0 = v.reverseSum(divsOnly0)
      .collect().map(r => r.getAs[Long]("id") -> r.getAs[Double]("value")).toMap
    assert(bitsOnly0.keySet === rowOnly0.keySet)
    rowOnly0.foreach { case (i, s) => assert(approxEqual(s, bitsOnly0(i)), s"revSumOnly0($i)") }
    val maxOnly0 = v.reverseMax(divsOnly0)
      .collect().map(r => r.getAs[Long]("id") -> r.getAs[Double]("value")).toMap
    assert(maxOnly0.keySet === rowOnly0.keySet)
  }

  test("bitset BFS: harmonic scores identical to row-BFS scores") {
    val edges = erGraph(70, 0.06, seed = 12)
    val adj = adjOf(edges)
    val pivots = (0L until 70L).toDF("pivot")
    val viaRows = Geometric.scores(MultiBfs.run(spark, adj, pivots))
      .collect().map(r => r.getAs[Long]("id") -> r.getAs[Double]("harmonic")).toMap
    val viaBits = Geometric.scores(BitsetRows(BitsetBfs.visit(spark, adj, pivots, maskCols = 1)))
      .collect().map(r => r.getAs[Long]("id") -> r.getAs[Double]("harmonic")).toMap
    assert(viaRows.keySet === viaBits.keySet)
    viaRows.foreach { case (v, h) => assert(approxEqual(h, viaBits(v)), s"harmonic($v)") }

    // histogram variant (no explode): same values, multi-wave covered
    val viaHist = BitsetBfs.harmonic(spark, adj, pivots, maskCols = 1) // 70 pivots → 2 waves
      .collect().map(r => r.getAs[Long]("id") -> r.getAs[Double]("harmonic")).toMap
    assert(viaHist.keySet === viaRows.keySet)
    viaRows.foreach { case (v, h) => assert(approxEqual(h, viaHist(v)), s"hist harmonic($v)") }
  }

  test("sparse tile serialization round-trips dense, sparse, and empty buffers") {
    import org.apache.spark.sql.graft.TileAggs
    val rnd = new scala.util.Random(7)
    val len = 512
    val dense = Array.fill(len)(rnd.nextLong())
    val sparse = new Array[Long](len)
    Seq(0, 17, 333, 511).foreach(i => sparse(i) = rnd.nextLong() | 1L)
    val empty = new Array[Long](len)
    for (buf <- Seq(dense, sparse, empty)) {
      val bytes = TileAggs.toBytes(buf)
      assert(TileAggs.fromBytes(bytes, len).toSeq === buf.toSeq)
    }
    // sparse encoding actually engages and pays
    assert(TileAggs.toBytes(sparse).length === 4 + 12 * 4)
    assert(TileAggs.toBytes(dense).length === 4 + 8 * len)
  }

  test("tileOrCols (unboxed column children) equals an in-memory OR fold of the rows") {
    import org.apache.spark.sql.graft.TileAggs
    val rnd = new scala.util.Random(11)
    val mc = 3
    val chunkSize = 16
    val rows = Seq.tabulate(600) { _ =>
      (rnd.nextInt(4).toLong, rnd.nextInt(chunkSize),
        rnd.nextLong(), rnd.nextLong(), rnd.nextLong())
    }
    val df = spark.createDataFrame(rows)
      .toDF("chunk", "pos", "m0", "m1", "m2")
    val ms = Seq("m0", "m1", "m2").map(col)
    val viaCols = df
      .groupBy("chunk")
      .agg(TileAggs.tileOrCols(col("pos"), ms, chunkSize).as("tile"))
    val c = viaCols.orderBy("chunk").collect().map(r => (r.getLong(0), r.getSeq[Long](1)))
    // independent reference: fold the collected rows into per-chunk tiles,
    // element pos·mc + j = OR of mask column j
    val folded = rows.groupBy(_._1).toSeq.sortBy(_._1).map { case (chunk, rs) =>
      val tile = new Array[Long](chunkSize * mc)
      rs.foreach { case (_, pos, m0, m1, m2) =>
        Seq(m0, m1, m2).zipWithIndex.foreach { case (m, j) => tile(pos * mc + j) |= m }
      }
      (chunk, tile.toSeq)
    }
    // an unbound child throws, so this is the unboxed ordinal path's result
    assert(c.toSeq === folded)
  }
}
