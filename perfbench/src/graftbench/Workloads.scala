package graftbench

import graft.algo._
import graft.core.{DirMaterializer, Graph, LocalMaterializer, Materializer}
import graft.data.{Synth, Tpch}
import graft.ingest.{EdgeDeriver, FilesTable}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import java.nio.file.Path

/** Input sizes. `sf` scales the generated lineitem table the way TPC-H's
  * scale factor does (6M rows per unit).
  */
final case class Sizes(closenessSf: Double, synthN: Long, ingestSf: Double)

object Sizes {
  val Full = Sizes(closenessSf = 0.001, synthN = 5000, ingestSf = 0.002)
  val Smoke = Sizes(closenessSf = 0.001, synthN = 2000, ingestSf = 0.001)
}

/** What one timed job returns: its superstep count, the logical arcs it
  * visited, and an untimed check that lists mismatches against the
  * reference.
  */
final case class JobOut(supersteps: Long, arcs: Double, check: () => Seq[String])

/** Shared state of one benchmark process. */
final case class Ctx(spark: SparkSession, seed: Int, sizes: Sizes, work: Path, t: Tracer) {
  def dir(name: String): Path = work.resolve(name)
}

abstract class Workload(val ctx: Ctx) {
  def spark: SparkSession = ctx.spark
  def t: Tracer = ctx.t

  /** Build the inputs the timed jobs read (set-up; repeated, see Main). */
  def setup(): Unit
  /** Free what [[setup]] persisted. */
  def release(): Unit
  /** Compute the reference answers; once, after the first set-up. */
  def reference(): Unit
  /** The timed jobs of one rep, in order. */
  def jobs: Seq[(String, () => JobOut)]
  /** Free what a rep left persisted (untimed). */
  def endRep(): Unit = ()

  /** Symmetrize + adjacency of a directed edge table, each step
    * materialized and timed as its own layer. Returns (adjacency, arcs).
    */
  protected def buildGraph(edges: DataFrame): (DataFrame, Long) = {
    val sym = t.span("core.Graph.symmetrize_s") { Graph.symmetrize(edges).localCheckpoint(true) }
    val arcs = sym.count()
    val adj = t.span("core.Graph.adjacency_s") {
      val a = Graph.adjacency(sym).persist()
      a.count()
      a
    }
    t.add("core.Graph.arcs", arcs.toDouble)
    t.add("core.Graph.adj_rows", adj.count().toDouble)
    Materializer.unpersistCheckpoint(sym)
    (adj, arcs)
  }

  protected def collectEdges(df: DataFrame): (Array[Long], Array[Long]) = {
    val rows = df.select(col("src").cast("long"), col("dst").cast("long")).collect()
    (rows.map(_.getLong(0)), rows.map(_.getLong(1)))
  }

  /** Writes the lineitem table under `dir` (Tpch's layout). Its seed is
    * fixed, like the engine's TPC-H-like test tables: the workload seed
    * varies the samples and pivots drawn from it, not the graph itself.
    */
  protected def writeLineitem(dir: Path, sf: Double): String = {
    Inputs.lineitem(spark, sf, Inputs.LineitemSeed)
      .write.mode("overwrite").parquet(dir.resolve("lineitem.parquet").toString)
    dir.toString
  }

  protected def mismatch(what: String, bad: Int, total: Int): Seq[String] =
    if (bad == 0) Nil else Seq(s"$what: $bad of $total differ from the reference")

  protected def approx(a: Double, b: Double, tol: Double): Boolean =
    math.abs(a - b) <= tol * math.max(1.0, math.max(math.abs(a), math.abs(b)))
}

/** Seeded input tables. */
object Inputs {
  val LineitemSeed = 42

  /** A lineitem table shaped like the TPC-H one the engine's Tpch edges
    * read: 6M·sf rows, ~4 lines per order, uniform part, supplier and
    * quantity 1..50. Pure xxhash64 arithmetic over `spark.range`, so the
    * same (sf, seed) gives the same rows at any parallelism.
    */
  def lineitem(spark: SparkSession, sf: Double, seed: Int): DataFrame = {
    val rows = math.round(6000000 * sf)
    def h(salt: Int, mod: Long) = pmod(xxhash64(lit(seed), lit(salt), col("id")), lit(mod))
    spark.range(0L, rows, 1L, 4)
      .select(
        h(1, math.max(rows / 4, 1L)).as("l_orderkey"),
        h(2, math.round(200000 * sf)).as("l_partkey"),
        h(3, math.round(10000 * sf)).as("l_suppkey"),
        (h(4, 50L) + 1).cast("double").as("l_quantity"))
  }

  /** `count` distinct values from `universe`, chosen by `seed`. */
  def pick(universe: Array[Long], count: Int, seed: Int): Array[Long] =
    new scala.util.Random(seed).shuffle(universe.toSeq).take(count).sorted.toArray
}

/** The BFS layers: the paper's flagship query, certified top-k closeness
  * on the sparse part–supplier graph (dozens of shallow supersteps, tiny
  * frontiers), then the bitset BFS kernel: harmonic centrality of 128
  * pivots in one wave over a seeded synthetic graph.
  */
final class ClosenessTopk(c: Ctx) extends Workload(c) {
  val K = 10
  val BitsetPivots = 128
  val MaskCols = 2
  val CheckedBitsetPivots = 8
  private var adj: DataFrame = _
  private var synth: DataFrame = _
  private var dir: String = _
  private var ref: RefGraph = _
  private var expected: Seq[(Long, Long)] = _
  private var synthRef: RefGraph = _
  private var synthPivots: Array[Long] = _

  private def synthEdges = Synth.edges(spark, ctx.sizes.synthN, seed = ctx.seed, parts = 16)

  def setup(): Unit = {
    dir = writeLineitem(ctx.dir("closeness"), ctx.sizes.closenessSf)
    adj = buildGraph(Tpch.sparseEdges(spark, dir))._1
    synth = buildGraph(synthEdges)._1
  }
  def release(): Unit = Seq(adj, synth).foreach(_.unpersist(true))

  def reference(): Unit = {
    val (s, d) = collectEdges(Tpch.sparseEdges(spark, dir))
    ref = RefGraph.undirected(s, d)
    expected = RefGraph.closenessTopK(ref, K)
    val (ss, sd) = collectEdges(synthEdges)
    synthRef = RefGraph.undirected(ss, sd)
    synthPivots = Inputs.pick(synthRef.ids, BitsetPivots, ctx.seed)
  }

  def jobs: Seq[(String, () => JobOut)] = Seq(
    "topk" -> (() => {
      val (topk, tel) = t.span("algo.Chechik.s") {
        val (df, tel) = Chechik.topkCloseness(spark, adj, k = K, seed = ctx.seed,
          mat = t.mat(new LocalMaterializer(window = 0)))
        (df.select("id", "farness").collect().map(r => (r.getLong(0), r.getLong(1))).toSeq, tel)
      }
      t.add("algo.Chechik.total_bfs", tel.totalBfs.toDouble)
      t.add("algo.Chechik.exact_bfs", tel.exactBfs.toDouble)
      t.add("algo.Chechik.sample_size", tel.sampleSize.toDouble)
      t.add("algo.Chechik.useful_ratio", K.toDouble / math.max(tel.exactBfs, 1L))
      t.add("algo.Chechik.supersteps", tel.supersteps.toDouble)
      // every BFS visits its source's component; the sources are internal to
      // the query, so use the mean component size over all vertices (exact
      // when the graph is connected)
      val meanArcs = ref.componentArcs.map(_.toDouble).sum / ref.n
      JobOut(tel.supersteps, tel.totalBfs * meanArcs, () =>
        if (topk.sorted == expected.sorted) Nil
        else Seq(s"closeness top-$K ${topk.take(12)} != reference ${expected.take(12)}"))
    }),
    "bitset-harmonic" -> (() => {
      val sess = spark
      import sess.implicits._
      val prep = t.span("algo.BitsetBfs.prepare_s") { BitsetBfs.prepare(synth) }
      val steps = t.steps("algo.BitsetBfs", "supersteps", "superstep_s", "frontier_chunks")
      val scores = steps.around(BitsetBfs.harmonic(spark, synth, synthPivots.toSeq.toDF("pivot"),
          maskCols = MaskCols, mat = t.mat(new LocalMaterializer(window = 0)), onSuperstep = steps.long,
          prep = prep)
        .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap)
      prep.release()
      val visited = synthPivots.map(p => synthRef.componentArcs(synthRef.indexOf(p)).toDouble).sum
      JobOut(steps.count, visited, () => {
        // a full reference costs too much here: check a seeded sample of pivots
        val sample = Inputs.pick(synthPivots, CheckedBitsetPivots, ctx.seed + 1)
        val bad = sample.count(p =>
          !scores.get(p).exists(h => approx(h, synthRef.scores(synthRef.indexOf(p))._2, 1e-9)))
        mismatch("bitset harmonic", bad + math.abs(scores.size - synthPivots.length), CheckedBitsetPivots)
      })
    }))
}

/** The north-rule pipeline over a source-repository table: files table →
  * vertex ids → file edges → adjacency, then geometric scores from a
  * 16-pivot BFS, PageRank, components, triangles and label propagation
  * with a parquet checkpoint per round — all timed.
  */
final class FilegraphIngest(c: Ctx) extends Workload(c) {
  val Pivots = 16
  // per-call caps that keep a run near 50 s (see README)
  val PageRankMaxIter = 2
  val LabelPropRounds = 1
  private var dir: String = _
  private var rep = 0
  // per-rep state, released in endRep
  private var files: DataFrame = _
  private var vmap: DataFrame = _
  private var edges: DataFrame = _
  private var adj: DataFrame = _
  private var arcs = 0L
  private var pivots: Array[Long] = _
  private var lpaDir: Path = _
  // reference, from the files table
  private var ref: RefGraph = _
  private var refFiles = 0L

  def setup(): Unit = dir = writeLineitem(ctx.dir("ingest"), ctx.sizes.ingestSf)
  def release(): Unit = ()

  def reference(): Unit = {
    refFiles = spark.read.parquet(s"$dir/lineitem.parquet").count() / 2
    val rows = FilesTable.files(spark, dir).select("path", "commit", "content").collect()
      .map(r => (r.getString(0), r.getString(1), r.getString(2)))
    // vertex ids: paths in sorted order; edges: co-commit pairs ∪ imports
    val paths = rows.map(_._1).distinct.sorted
    val id = paths.zipWithIndex.map { case (p, i) => p -> i.toLong }.toMap
    val byFileIdx = paths.flatMap(p => "/File(\\d+)\\.".r.findFirstMatchIn(p).map(m => m.group(1) -> id(p)))
      .groupBy(_._1).map { case (k, v) => k -> v.map(_._2) }
    val pairs = scala.collection.mutable.ArrayBuffer.empty[(Long, Long)]
    rows.groupBy(_._2).values.foreach { occ =>
      val ids = occ.map(o => id(o._1)).distinct
      for (a <- ids; b <- ids if a < b) pairs += ((a, b))
    }
    val imp = "import pkg\\d+\\.File(\\d+)".r
    rows.map(r => (r._1, r._3)).distinct.foreach { case (p, content) =>
      for (m <- imp.findAllMatchIn(content); dst <- byFileIdx.getOrElse(m.group(1), Array.empty[Long]))
        pairs += ((id(p), dst))
    }
    ref = RefGraph.undirected(pairs.map(_._1).toArray, pairs.map(_._2).toArray)
  }

  def jobs: Seq[(String, () => JobOut)] = Seq(
    "ingest" -> (() => {
      files = t.span("ingest.FilesTable.s") { FilesTable.files(spark, dir).localCheckpoint(true) }
      val nFiles = files.count()
      t.add("ingest.FilesTable.rows", nFiles.toDouble)
      vmap = t.span("core.Rank.s") { EdgeDeriver.vertexMap(files).localCheckpoint(true) }
      edges = t.span("ingest.EdgeDeriver.s") {
        EdgeDeriver.cocommitEdges(files, vmap).unionAll(EdgeDeriver.importEdges(files, vmap))
          .distinct().localCheckpoint(true)
      }
      t.add("ingest.EdgeDeriver.edges", edges.count().toDouble)
      val (a, m) = buildGraph(edges)
      adj = a
      arcs = m
      pivots = Inputs.pick(ref.ids, Pivots, ctx.seed)
      JobOut(0L, 0.0, () => {
        val (gs, gd) = collectEdges(adj.select(col("src"), explode(col("neighbors")).as("dst")))
        val got = gs.zip(gd).sorted
        Seq(
          if (nFiles == refFiles) None else Some(s"files table: $nFiles rows, expected $refFiles"),
          if (got.sameElements(ref.arcPairs)) None
          else Some(s"file graph: ${got.length} arcs differ from the reference's ${ref.arcs}")).flatten
      })
    }),
    "bfs-scores" -> (() => {
      val sess = spark
      import sess.implicits._
      val steps = t.steps("algo.MultiBfs", "supersteps", "superstep_s", "frontier_rows")
      val scores = steps.around(Geometric.scores(MultiBfs.run(spark, adj, pivots.toSeq.toDF("pivot"),
          mat = t.mat(new LocalMaterializer(window = Materializer.DefaultChain)), onSuperstep = steps.long))
        .select("id", "farness", "harmonic", "reachable").collect()
        .map(r => r.getLong(0) -> (r.getLong(1), r.getDouble(2), r.getLong(3))).toMap)
      JobOut(steps.count, pivots.map(p => ref.componentArcs(ref.indexOf(p)).toDouble).sum, () => {
        val bad = pivots.count { p =>
          val (f, h, r) = ref.scores(ref.indexOf(p))
          !scores.get(p).exists { case (ef, eh, er) => ef == f && er == r && approx(eh, h, 1e-9) }
        }
        mismatch("geometric scores", bad + math.abs(scores.size - Pivots), Pivots)
      })
    }),
    "pagerank" -> (() => {
      val steps = t.steps("algo.PageRank", "iterations", "superstep_s")
      val res = steps.around(PageRank.run(spark, adj, maxIter = PageRankMaxIter, tol = 1e-6,
        mat = t.mat(new LocalMaterializer(window = Materializer.DefaultChain)), onSuperstep = steps.double))
      val ranks = res.ranks.collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
      JobOut(res.iterations, res.iterations.toDouble * arcs, () => {
        val (want, _) = ref.pageRank(0.85, 1e-6, PageRankMaxIter)
        val bad = ref.ids.indices.count(v => !ranks.get(ref.ids(v)).exists(q => math.abs(q - want(v)) <= 1e-9))
        mismatch("pagerank", bad + math.abs(ranks.size - ref.n), ref.n)
      })
    }),
    "components" -> (() => {
      val steps = t.steps("algo.Components", "rounds", "round_s")
      val res = steps.around(Components.run(spark, adj,
        mat = t.mat(new LocalMaterializer(window = 3)), onSuperstep = steps.long))
      val labels = res.labels.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      JobOut(res.iterations, res.iterations.toDouble * arcs, () => {
        val bad = ref.ids.indices.count(v => !labels.get(ref.ids(v)).contains(ref.componentLabels(v)))
        mismatch("component labels", bad + math.abs(labels.size - ref.n), ref.n)
      })
    }),
    "triangles" -> (() => {
      val n = t.span("algo.Triangles.s") {
        Triangles.globalCount(spark, Graph.canonicalize(edges)).head().getLong(0)
      }
      t.add("algo.Triangles.count", n.toDouble)
      JobOut(0L, arcs / 2.0, () =>
        if (n == ref.triangles) Nil else Seq(s"triangles: $n, reference ${ref.triangles}"))
    }),
    "labelprop" -> (() => {
      rep += 1
      lpaDir = ctx.dir(s"lpa-$rep")
      val rounds = LabelPropRounds
      val labels = t.span("algo.LabelProp.s") {
        LabelProp.run(spark, adj, rounds, mat = t.mat(new DirMaterializer(spark, lpaDir.toString), Some(lpaDir)))
          .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      }
      t.add("algo.LabelProp.rounds", rounds.toDouble)
      JobOut(rounds.toLong, rounds.toDouble * arcs, () => {
        val want = ref.labelProp(rounds)
        val bad = ref.ids.indices.count(v => !labels.get(ref.ids(v)).contains(want(v)))
        mismatch("label propagation", bad + math.abs(labels.size - ref.n), ref.n)
      })
    }))

  override def endRep(): Unit = {
    if (adj != null) adj.unpersist(true)
    Seq(edges, vmap, files).filter(_ != null).foreach(Materializer.unpersistCheckpoint(_))
    if (lpaDir != null) DirBytes.deleteTree(lpaDir)
    adj = null; edges = null; vmap = null; files = null; lpaDir = null
  }
}

object Workloads {
  val Names = Seq("closeness-topk", "filegraph-ingest")

  def apply(name: String, ctx: Ctx): Workload = name match {
    case "closeness-topk" => new ClosenessTopk(ctx)
    case "filegraph-ingest" => new FilegraphIngest(ctx)
    case other => throw new IllegalArgumentException(s"unknown workload '$other' (one of ${Names.mkString(", ")})")
  }
}
