package graft.algo

import graft.core.{Materializer, LocalMaterializer, Supersteps}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Bitset multi-source BFS — the scale path for many-pivot visits.
  *
  * [[MultiBfs.run]] carries one row per (pivot, vertex): P pivots over an
  * m-arc graph shuffle O(P·m) message rows per full visit. This variant
  * packs pivots into Long bitmasks — `maskCols` Longs of 64 bits each, so up
  * to 64·maskCols pivots advance in ONE wave — and packs VERTICES into
  * chunks of [[ChunkSize]] = 256: state is
  * one row per chunk `(chunk, ns, vs)` where `ns`/`vs` are dense
  * `array<long>` TILES of ChunkSize·maskCols elements, element
  * `pos·maskCols + j` holding mask column j of vertex `chunk·ChunkSize + pos`
  * (`ns` = bits newly set this superstep, `vs` = cumulative visited).
  *
  * Semantically identical to the reference's per-source BFS
  * (GeometricCentralities.java:151-207): bit b of mask column j of vertex v
  * set at superstep d  ⇔  d(pivot_{j·64+b}, v) = d.
  *
  * Superstep = ONE fused plan, ONE shuffle whose row count is
  * PARTITION-INDEPENDENT:
  *
  *   frontier = explode state tiles → (chunk, pos, m0..)  [no shuffle]
  *   msgs     = frontier ⋈ cadj on (chunk, pos) → explode neighbors
  *              → groupBy(dst chunk).agg(tileOrCols)       [THE shuffle]
  *   state'   = state ⟕ msgs on chunk:
  *              ns = zip_with(atile, vs, (a,v) -> a & ~v)
  *              vs = zip_with(vs, atile, (v,a) -> v | a)   [co-partitioned]
  *
  * Everything is hash(chunk)-partitioned — the state via its stripped
  * checkpoint ([[org.apache.spark.sql.graft.CheckpointStats.strip]] keeps
  * `outputPartitioning` while dropping the inherited stats whose
  * join-squaring blocked co-partitioned loops in round 3), the chunked
  * adjacency via [[prepare]], the messages via the tile groupBy — so both
  * joins are exchange-free shuffled-hash.
  *
  * WHY TILES (round-4 per-stage measurement, BASELINE.md "the residual is
  * DRAM work inflation"): the per-vertex form's message
  * aggregate keyed on id has map-side-combine output ∝ map tasks × n — at
  * 2 vs 8 cores the 8-core leg shuffled 3× the rows (13.5M vs 4.0M per
  * superstep at n=2M) at ~1μs/row of task time, the entire N→4N scaling
  * gap. Tile aggregation bounds map-side output at (populated chunks ≈
  * n/ChunkSize) ROWS per map task — ChunkSize× fewer rows, and the per-row costs (hash
  * probe, serialization, join plumbing) amortize over a 64·maskCols-element
  * array processed in tight codegen'd/JIT loops (`zip_with`, primitive
  * buffer aggregators). Chunk granularity (ChunkSize) is the combine-vs-tile-memory
  * trade: a map task's partial-agg map holds ≤ populated-chunks tiles
  * (n/ChunkSize × 2 KB·maskCols worst case — bound map task input via
  * `maxPartitionBytes` at larger n, or shrink chunks).
  *
  * Consumers never see tiles unless they want them:
  *  - [[Visit.harmonic]]/[[Visit.farness]] aggregate the tile increments DIRECTLY —
  *    64·maskCols counting cells per (wave, dist) via [[org.apache.spark.sql.graft.TileBitCountAgg]] over
  *    n/ChunkSize-row frames, so the per-pivot score costs O(n·maskCols/ChunkSize) rows
  *    regardless of P — the 100 TB shape of "all per-source running sums
  *    become aggregates" (SURVEY.md §2.4 A3).
  *  - [[Visit.reverseSum]]/[[Visit.reverseMax]] use [[idRows]], a lazy
  *    tile → (id, m0..) projection.
  */
object BitsetBfs {

  /** log2 of the vertex-chunk width (tile rows hold ChunkSize vertices;
    * a chunk's tile indexes as `pos·maskCols + j`).
    */
  private val ChunkBits = 8
  private[graft] val ChunkSize = 1 << ChunkBits

  /** Pivot count at or below which the pivot index is numbered on the driver
    * (ONE bounded collect) instead of via distributed rank minting — see
    * [[visit]]. Package-private VAR so specs can lower it to force the
    * large-P branch on a small pivot set and assert branch parity; both
    * branches produce identical output, so a concurrent suite observing a
    * lowered cap stays correct (just takes the distributed path).
    */
  private[graft] var smallPivotCap = 65536

  /** Chunk-keyed visit inputs, built once and reused across visits over the
    * same graph (a Chechik certification run is one visit per batch; the
    * benchmark builds and times it separately from the visit):
    *   - `cadj`: (chunk, pos, neighbors) of each adjacency (src, slice) row,
    *     hash(chunk)-partitioned — the frontier join side.
    *   - `chunks`: distinct source chunks — the dense state universe.
    * Callers that supply one own its lifecycle ([[Prep.release]]).
    */
  case class Prep(cadj: DataFrame, chunks: DataFrame) {
    def release(): Unit = {
      Materializer.unpersistCheckpoint(cadj)
      Materializer.unpersistCheckpoint(chunks)
    }
  }

  /** Build a [[Prep]] from `Graph.adjacency` output (src, salt?, neighbors,
    * degree): one arcs-row repartition to hash(chunk), checkpointed.
    */
  def prepare(adjacency: DataFrame): Prep = {
    val cadj = adjacency.select(
        shiftright(col("src"), ChunkBits).as("chunk"),
        col("src").bitwiseAND(lit((ChunkSize - 1).toLong)).cast("int").as("pos"),
        col("neighbors"))
      .repartition(col("chunk"))
      .localCheckpoint(true)
    val chunks = cadj.select(col("chunk")).distinct().localCheckpoint(true)
    Prep(cadj, chunks)
  }

  /** Handle to a completed bitset visit: pivot→(wave,mcol,mbit) index map
    * and per-superstep newly-bit TILE frames (wave, dist, frame(chunk, tile))
    * — filtered projections of the cached per-superstep state. Per-pivot
    * aggregates come from [[histogram]], per-target ones from [[reverseAgg]].
    */
  case class Visit(
      idx: DataFrame,
      maskNames: Seq[String],
      increments: Vector[(Int, Int, DataFrame)],
      states: Vector[DataFrame]) extends graft.algo.Visit {
    /** Per-pivot harmonic centrality (see `harmonic(spark, …)`). */
    def harmonic: DataFrame = histogram(this, "harmonic", lit(0.0))(d => lit(1.0) / d)
    def farness: DataFrame = histogram(this, "farness", lit(0L))(d => d.cast("long"))
    def reverseSum(divisors: DataFrame): DataFrame = reverseAgg(this, divisors, max = false)
    def reverseMax(divisors: DataFrame): DataFrame = reverseAgg(this, divisors, max = true)

    /** Free every cached superstep state frame and the pivot index. Without
      * this, a long certification loop (Chechik runs estimator + sample + one
      * visit per exact batch) keeps every superstep of every visit live in
      * RAM-backed storage for the whole run (round-3 advice).
      */
    def release(): Unit = {
      states.foreach(Materializer.unpersistCheckpoint(_))
      Materializer.unpersistCheckpoint(idx)
    }
  }

  private def nonZeroCols(cols: Seq[String]): Column =
    cols.map(c => col(c) =!= 0L).reduce(_ || _)

  /** Any bit set anywhere in the tile — the frontier/visited row predicate.
    * NULL tiles (all-zero since round 6, see [[superstep]]) yield NULL and
    * are filtered by `where` exactly like an explicit zero tile.
    */
  private def tileNonZero(tileCol: String): Column =
    exists(col(tileCol), _ =!= 0L)

  /** Lazy tile → per-vertex projection: (chunk, `tileCol`) rows to
    * (id, m0..m{mc-1}) rows for every vertex with any bit set. Chunk slots
    * that are no real vertex carry all-zero masks and are filtered with the
    * rest, so the row set matches the sparse per-id form exactly.
    */
  private[graft] def idRows(frame: DataFrame, tileCol: String, maskCols: Int): DataFrame = {
    val ms = (0 until maskCols).map(j => s"m$j")
    frame.where(tileNonZero(tileCol))
      .select(col("chunk"), col(tileCol).as("tile"),
        explode(sequence(lit(0), lit(ChunkSize - 1))).as("pos"))
      .select(
        (col("chunk") * ChunkSize + col("pos")).as("id") +:
          ms.zipWithIndex.map { case (m, j) =>
            element_at(col("tile"), col("pos") * maskCols + (j + 1)).as(m)
          }: _*)
      .where(nonZeroCols(ms))
  }

  /** ONE tile superstep over the dense hash(chunk)-partitioned state
    * (chunk, ns, vs) — see the object scaladoc for the shape and why.
    * Exposed package-private so PlanSpec can assert the physical plan —
    * exactly one Exchange, shuffled-hash joins, no Sort — on the real loop
    * plan rather than prose.
    */
  private[graft] def superstep(state: DataFrame, cadj: DataFrame, maskCols: Int): DataFrame = {
    val ms = (0 until maskCols).map(j => s"m$j")
    // explode the frontier tiles to (chunk, pos, m0..) — in-task, no shuffle,
    // and the loop plan is superstep-invariant (no per-superstep literals →
    // codegen caches hit from superstep 2 on; the superstep d lives in the
    // consumer-side `incs` tuples, never in the plan)
    val frontier = state.where(tileNonZero("ns"))
      .select(col("chunk"), col("ns"),
        explode(sequence(lit(0), lit(ChunkSize - 1))).as("pos"))
      .select(col("chunk") +: col("pos") +:
        ms.zipWithIndex.map { case (m, j) =>
          element_at(col("ns"), col("pos") * maskCols + (j + 1)).as(m)
        }: _*)
      .where(nonZeroCols(ms))
    // frontier ⋈ cadj on (chunk, pos): both sides hash(chunk)-partitioned
    // (key position 0 of the join), so EnsureRequirements recognizes them
    // co-partitioned — no exchange. Shuffled-hash, built on the frontier
    // side: stripped state stats are defaultSizeInBytes, so the hint is
    // load-bearing (see CheckpointStats scaladoc), and SMJ would re-sort
    // the checkpointed adjacency every superstep.
    val fr = frontier.hint("shuffle_hash")
    // per-arc message rows: the mask columns feed the tile aggregate
    // (`TileAggs.tileOrCols`) DIRECTLY as unboxed ordinal reads instead of
    // being packed into an array per arc row — no UnsafeArrayData alloc +
    // copy on the hottest projection in the engine (A/B: BASELINE.md).
    // Map-side partial tile aggregation runs before THE exchange, so shuffle
    // rows are bounded at map tasks × populated chunks.
    val msgs = fr
      .join(cadj, Seq("chunk", "pos"))
      .select(explode(col("neighbors")).as("dst") +: ms.map(col): _*)
      .select(
        shiftright(col("dst"), ChunkBits).as("chunk") +:
          col("dst").bitwiseAND(lit((ChunkSize - 1).toLong)).cast("int").as("pos") +:
          ms.map(col): _*)
      .groupBy("chunk")
      .agg(org.apache.spark.sql.graft.TileAggs
        .tileOrCols(col("pos"), ms.map(col), ChunkSize).as("atile"))
    // visited test + visited update, fused into the co-partitioned merge
    // join (both sides hash(chunk)): two codegen'd zip_with lambdas over the
    // tiles, left outer keeps the state side's partitioning for the NEXT
    // superstep's checkpoint to capture. n/ChunkSize state rows never
    // re-shuffle. ALL-ZERO TILES ARE NULL (round 6): a chunk with no
    // incoming messages stores ns = NULL instead of a materialized
    // ChunkSize·maskCols zero array, and a never-visited chunk stores
    // vs = NULL — the checkpointed state then carries ~2–32 KB per QUIET
    // chunk less per superstep (most chunks are quiet outside the 2–3 peak
    // supersteps), and the init/seed stage allocates no zero arrays at all
    // (BASELINE.md round 5 measured that stage at 19–49 % GC from exactly
    // this churn). `tileNonZero` treats NULL like zero, so frontier
    // extraction, increments, idRows and the wave loop see the identical row
    // sets.
    state.join(msgs.hint("shuffle_hash"), Seq("chunk"), "left")
      .select(col("chunk"),
        when(col("atile").isNull, lit(null))
          .when(col("vs").isNull, col("atile"))
          .otherwise(expr("zip_with(atile, vs, (a, v) -> a & ~v)")).as("ns"),
        when(col("atile").isNull, col("vs"))
          .when(col("vs").isNull, col("atile"))
          .otherwise(expr("zip_with(vs, atile, (v, a) -> v | a)")).as("vs"))
  }

  /** Run the wave BFS and return the [[Visit]] handle for histogram/reverse
    * consumers.
    *
    * @param adjacency output of Graph.adjacency over SYMMETRIZED edges,
    *                  persisted by the caller (only read when no `prep` is
    *                  supplied — the visit then builds and frees its own).
    * @param pivots    one column `pivot: Long`.
    * @param maskCols  Long mask columns per wave (64 pivots each).
    * @param onSuperstep (d, count) per superstep. NOTE: `count` is frontier
    *                  CHUNK rows (tiles with any new bit), not frontier
    *                  vertices — ~ChunkSize smaller than the row-BFS
    *                  frontier size; cross-telemetry comparisons with
    *                  pre-round-4 data must account for the unit change.
    * @param prep      chunk-keyed inputs from [[prepare]], reusable across
    *                  visits over the same graph; null → built per visit.
    *
    * The Visit's increments read the superstep states after the loop, so a
    * materializer that evicts iterations is refused before any Spark job.
    *
    * Three session confs the tile loop NEEDS while its supersteps plan and
    * run are pinned for the visit and restored on exit
    * ([[graft.core.Supersteps.withConfs]]; a permanent mutation silently
    * changed spill/co-partition behavior of unrelated queries on the shared
    * session). Restoring at the end is safe: every superstep plan is
    * materialized inside the loop, and the Visit's lazy increment
    * projections are plain scans + aggregates over checkpointed frames —
    * none of the confs affects them.
    *  - adaptive execution off: as in [[MultiBfs.run]], the loop's plans are
    *    the static ones PlanSpec asserts, and AQE would submit each query
    *    stage of a chunk as its own Spark job.
    *  - fallbackThreshold: the tile aggregate's map-side hash map
    *    legitimately holds up to n/ChunkSize keys per task; the default
    *    ObjectHashAggregate fallback (128 keys) would silently degrade every
    *    superstep to sort-based aggregation — sorting the raw message rows
    *    each superstep.
    *  - requireAllClusterKeysForCoPartition=false: frontier ⋈ cadj joins on
    *    (chunk, pos) with BOTH sides hash(chunk)-partitioned — a key-subset
    *    co-partitioning Spark only accepts with this (conservative-by-
    *    default) flag off; without it EnsureRequirements re-exchanges both
    *    sides on (chunk, pos) every superstep, exactly the n-row reshuffle
    *    the tile layout removes.
    */
  def visit(
      spark: SparkSession,
      adjacency: DataFrame,
      pivots: DataFrame,
      maskCols: Int = 16,
      maxIter: Int = 256,
      mat: Materializer = new LocalMaterializer(window = 0),
      onSuperstep: (Int, Long) => Unit = (_, _) => (),
      prep: Prep = null): Visit = Supersteps.withConfs(spark,
    "spark.sql.adaptive.enabled" -> "false",
    "spark.sql.objectHashAggregate.sortBased.fallbackThreshold" -> (1 << 22).toString,
    "spark.sql.requireAllClusterKeysForCoPartition" -> "false") {
    require(!mat.evictsIterations,
      "BitsetBfs.visit reads every superstep state after its loop; a materializer " +
        "that evicts iterations (LocalMaterializer with window > 0) would free them")

    val waveBits = 64L * maskCols
    val ms = (0 until maskCols).map(j => s"m$j")

    // deterministic pivot numbering: idx → (wave, column, bit), ascending
    // pivot id. Two shapes with identical output:
    //  - small-P fast path (P ≤ 64k): ONE job — collect the distinct pivot
    //    ids (bounded: ≤ 0.5 MB of longs), number on the driver, hand the
    //    loop a local relation. A visit previously paid ~4 driver-gapped
    //    init jobs before its first superstep — per-visit fixed cost that a
    //    Chechik certification run re-pays every batch and that the scaling
    //    legs can't parallelize away.
    //  - large-P path: distributed range minting — the Chechik sample at
    //    web scale is K·E[λ] ≈ ln(n)/ε² · E[λ] · n rows, too big to collect.
    val distinctPivots = pivots.select(col("pivot").cast("long").as("pivot")).distinct()
    val collected = distinctPivots.limit(smallPivotCap + 1).collect()
    val (idx, nWaves) =
      if (collected.length <= smallPivotCap) {
        val ids = collected.map(_.getLong(0)).sorted
        val sess = spark
        import sess.implicits._
        val local = ids.toSeq.zipWithIndex.map { case (p, i) =>
          (p, i.toLong, (i / waveBits).toInt, ((i % waveBits) / 64).toInt, (i % 64).toInt)
        }.toDF("pivot", "idx", "wave", "mcol", "mbit")
        (local, if (ids.isEmpty) 0 else ((ids.length - 1) / waveBits).toInt + 1)
      } else {
        val ranked = graft.core.Rank.globalRank(distinctPivots, "idx", col("pivot"))
          .withColumn("wave", (col("idx") / waveBits).cast("int"))
          .withColumn("mcol", ((col("idx") % waveBits) / 64).cast("int"))
          .withColumn("mbit", (col("idx") % 64).cast("int"))
          .localCheckpoint(true)
        (ranked, ranked.agg(coalesce(max("wave"), lit(-1))).head().getInt(0) + 1)
      }

    def newlyTiles(state: DataFrame): DataFrame =
      state.where(tileNonZero("ns")).select(col("chunk"), col("ns").as("tile"))
    def strip(df: DataFrame): DataFrame =
      org.apache.spark.sql.graft.CheckpointStats.strip(df)

    val inputs =
      if (nWaves == 0) null
      else if (prep != null) prep
      else prepare(adjacency)

    var incs = Vector.empty[(Int, Int, DataFrame)]
    var statesAcc = Vector.empty[DataFrame]
    // each wave's iterations follow the previous wave's, so no wave rewrites
    // a checkpoint (a DirMaterializer's iter=*) that earlier waves still read
    var base = 0
    for (w <- 0 until nWaves) {
      // init: the pivot's own bit set (newly AND visited) in its chunk's
      // tile, distance 0; all other chunks carry zero tiles (dense state).
      // The pivot side is ≤ 64·maskCols chunk tiles — explicit broadcast, so
      // the init join preserves the chunk universe's partitioning. Chunks of
      // pivots absent from the adjacency (isolated) union in through one
      // n/ChunkSize-row distinct.
      val wavePivots = idx.where(col("wave") === w)
      val pivotTiles = wavePivots.select(
          shiftright(col("pivot"), ChunkBits).as("chunk") +:
            col("pivot").bitwiseAND(lit((ChunkSize - 1).toLong)).cast("int").as("pos") +:
            ms.zipWithIndex.map { case (m, j) =>
              when(col("mcol") === j, expr("shiftleft(CAST(1 AS BIGINT), mbit)"))
                .otherwise(lit(0L)).as(m)
            }: _*)
        .groupBy("chunk").agg(org.apache.spark.sql.graft.TileAggs
          .tileOrCols(col("pos"), ms.map(col), ChunkSize).as("ptile"))
      val allChunks = inputs.chunks
        .unionAll(wavePivots.select(shiftright(col("pivot"), ChunkBits).as("chunk")))
        .distinct()
      // non-pivot chunks init as NULL tiles (= all-zero; see superstep) —
      // the seed stage materializes no zero arrays
      val init0 = allChunks.join(broadcast(pivotTiles), Seq("chunk"), "left")
        .select(col("chunk"), col("ptile").as("ns"), col("ptile").as("vs"))
      // a vertex can be several pivots only across waves, never within (idx
      // distinct). NOTE: state frames carry NO dist column — the superstep d
      // = iteration − base lives in the `incs` tuples (see superstep
      // scaladoc).
      val start = strip(mat.iterateDeferred(init0, base, -1.0))
      statesAcc :+= start
      incs :+= ((w, 0, newlyTiles(start)))
      // the loop is Supersteps.run: each chunk's one union-multicount job
      // returns every substep's exact frontier-chunk count, and the visit
      // stops at the first empty frontier
      val end = Supersteps.run(mat, start, base, base + maxIter,
        superstep(_, inputs.cadj, maskCols),
        settle = strip, metric = Some(Supersteps.Count(tileNonZero("ns"))),
        stop = _ == 0, onStep = (i, st, c) => {
          val d = i - base
          statesAcc :+= st
          if (c > 0) incs :+= ((w, d, newlyTiles(st)))
          onSuperstep(d, c.toLong)
        })
      base = end.iter + 1
    }
    if (inputs != null && prep == null) inputs.release()
    Visit(idx, ms, incs, statesAcc)
  }

  /** Per-pivot harmonic centrality Σ_v 1/d(pivot,v) WITHOUT materializing the
    * (pivot, id, dist) relation: one distributed aggregate over all waves'
    * tile increments computes the 64·maskCols bit-histogram sums
    * Σ 1/dist per set bit, unpivoted into (wave, mcol, mbit, h) —
    * nWaves·64·maskCols rows — and a broadcast join attaches them to the
    * distributed pivot index. Nothing of pivot cardinality ever lands on the
    * driver (round-2 assembled the result via a driver-side map + collect +
    * 1-partition parallelize — exactly what breaks at the Chechik web-scale
    * sample size).
    *
    * Identical output to `Geometric.scores` over the row BFS's relation
    * (spec-checked) at O(n·maskCols/64) aggregate ROWS instead of O(P·n).
    */
  def harmonic(
      spark: SparkSession,
      adjacency: DataFrame,
      pivots: DataFrame,
      maskCols: Int = 16,
      maxIter: Int = 256,
      mat: Materializer = new LocalMaterializer(window = 0),
      onSuperstep: (Int, Long) => Unit = (_, _) => (),
      prep: Prep = null): DataFrame =
    visit(spark, adjacency, pivots, maskCols, maxIter, mat, onSuperstep, prep).harmonic

  /** Shared histogram assembly in two stages. The expensive pass reduces
    * each (wave, dist) group of tile increments to 64·maskCols integer bit
    * counts via [[org.apache.spark.sql.graft.TileBitCountAgg]] — n/ChunkSize rows per frame, primitive-buffer
    * set-bit iteration. The tiny second stage — supersteps × 64·maskCols
    * rows — posexplodes the count cells, applies `weight(dist)`, sums per
    * (wave, mcol, mbit), and a broadcast join attaches the sums to the
    * distributed pivot index. Farness stays exact: counts are integers,
    * `weight` = dist as Long, Long sums end to end. Harmonic's (1/d)·count
    * carries one rounding per distance instead of one per visited vertex.
    */
  private def histogram(v: Visit, outCol: String, zero: Column)(
      weight: Column => Column): DataFrame = {
    val mc = v.maskNames.size
    val body = v.increments.collect { case (w, d, inc) if d > 0 =>
        inc.select(lit(w).as("wave"), lit(d).as("dist"), col("tile"))
      }
      .reduceOption(_ unionAll _)
    body match {
      case None =>
        // no superstep ever advanced: every pivot reaches nothing
        v.idx.select(col("pivot").as("id"), zero.as(outCol))
      case Some(frames) =>
        val byDist = frames
          .groupBy("wave", "dist")
          .agg(org.apache.spark.sql.graft.TileAggs
            .tileBitCount(col("tile"), mc).as("cnt"))
        val h = byDist
          .select(col("wave"), col("dist"),
            posexplode(col("cnt")).as(Seq("pos", "c")))
          .withColumn("h", weight(col("dist")) * col("c"))
          .groupBy(col("wave"), (col("pos") / 64).cast("int").as("mcol"),
            pmod(col("pos"), lit(64)).cast("int").as("mbit"))
          .agg(sum("h").as("h"))
        v.idx
          .join(broadcast(h), Seq("wave", "mcol", "mbit"), "left")
          .select(col("pivot").as("id"), coalesce(col("h"), zero).as(outCol))
    }
  }

  /** The reverse-direction aggregate (Horvitz–Thompson apxFarness with
    * div = p_s, ChechikFarnessEstimator.java:143,158-161; the λ ratio with
    * div = F(s), ChechikEstimator.java:151-160): per wave, the ≤ 64·maskCols per-pivot
    * divisors are collected (bounded by the WAVE width, never the pivot
    * count) into per-byte lookup-table literals, and each increment row
    * (via the [[idRows]] projection) folds its set bits through the tables
    * with codegen'd `element_at` lookups — O(n·maskCols) row passes per
    * wave for ANY pivot count, vs the O(P·n) rows of a row-BFS
    * accumulation. History (round-4 verdict #5): this fold was an
    * `aggregate` higher-order-function lambda, which is `CodegenFallback`
    * (interpreted) — measured at 96.8 s against the 28.7 s visit feeding
    * it (n=2M, 512 pivots, 8 cores); the byte-LUT form replaced it,
    * same-window A/B in BASELINE.md round 5.
    * Ratios are dist · (1/div) in double — equal to the row form's
    * d / div up to FP re-association (the byte tables pre-reduce on the
    * driver; the row form's shuffle `sum` is order-nondeterministic anyway,
    * so neither form promises a bit pattern, and specs/oracles compare at
    * tolerance / 6 dp).
    * Pivots missing from `divisors` (e.g. F(s) = 0 sources, excluded by
    * ChechikEstimator.java:52) are stored as divisor 0 and skipped by the
    * fold; rows whose set bits are ALL divisor-less are filtered out
    * entirely, so a target reached only by non-qualifying pivots is absent —
    * exactly the row form's inner-join-then-group keyset. d = 0 rows on
    * qualifying pivots contribute the identity but keep the target covered.
    *
    * @param divisors (pivot, div: Double), div ≠ 0 where the pivot counts.
    */
  private def reverseAgg(v: Visit, divisors: DataFrame, max: Boolean): DataFrame = {
    val ms = v.maskNames
    val perWave = v.increments.groupBy(_._1).toSeq.sortBy(_._1).flatMap { case (w, winc) =>
      val divs = v.idx.where(col("wave") === w)
        .join(divisors.select(col("pivot"), col("div").cast("double").as("div")), "pivot")
        .select("mcol", "mbit", "div")
        .collect()
        .map(r => (r.getInt(0), r.getInt(1)) -> r.getDouble(2)).toMap
      if (divs.isEmpty) None
      else {
        // keyset parity with the row path (round-3 advice): a target reached
        // ONLY by divisor-less pivots must not appear at all — the row form
        // inner-joins divisors before grouping. Fold the qualifying bits into
        // one Long mask per column and filter rows up front (also skips the
        // fold work for non-qualifying rows).
        val qual = ms.indices.map { j =>
          (0 until 64).foldLeft(0L) { (acc, b) =>
            if (divs.getOrElse((j, b), 0.0) != 0.0) acc | (1L << b) else acc
          }
        }
        val qualPred = ms.zipWithIndex
          .map { case (m, j) => col(m).bitwiseAND(lit(qual(j))) =!= 0L }
          .reduce(_ || _)
        val body = winc.map { case (_, d, inc) =>
          idRows(inc, "tile", ms.size)
            .select(lit(d).as("dist") +: col("id") +: ms.map(col): _*)
        }.reduce(_ unionAll _).where(qualPred)
        // A set bit contributes dist · inv(b) (inv = 1/div, 0 where the
        // pivot doesn't qualify — div is positive in every caller:
        // keep-probabilities, farness, offsets). Fold each 64-bit mask
        // through EIGHT 256-entry byte lookup tables pre-reduced on the
        // driver (byte value → sum or max of inv over its bits) instead of
        // a 64-step `aggregate` lambda: higher-order functions are
        // CodegenFallback (interpreted), while element_at on an array
        // literal is codegen'd — 8 compiled lookups per mask column keep
        // the row term inside whole-stage codegen. The lambda form measured
        // 96.8 s against the 28.7 s visit feeding it (n=2M, 512 pivots,
        // 8 cores); see BASELINE.md round 5.
        val term = ms.zipWithIndex.map { case (m, j) =>
          val inv = (0 until 64).map { b =>
            val dv = divs.getOrElse((j, b), 0.0)
            if (dv != 0.0) 1.0 / dv else 0.0
          }
          val bytes = (0 until 8).map { k =>
            val lut = (0 until 256).map { x =>
              val vals = (0 until 8).collect { case b if ((x >> b) & 1) == 1 => inv(8 * k + b) }
              if (max) { if (vals.isEmpty) 0.0 else vals.max } else vals.sum
            }
            element_at(typedLit(lut),
              shiftright(col(m), 8 * k).bitwiseAND(lit(255L)).cast("int") + 1)
          }
          if (max) { if (bytes.size == 1) bytes.head else greatest(bytes: _*) }
          else bytes.reduce(_ + _)
        }
        val combined =
          if (!max) term.reduce(_ + _)
          else if (term.size == 1) term.head
          else greatest(term: _*)
        Some(body.select(col("id"),
          (col("dist").cast("double") * combined).as("t")))
      }
    }
    perWave.reduceOption(_ unionAll _) match {
      case None =>
        v.idx.select(col("pivot").as("id")).limit(0).withColumn("value", lit(0.0))
      case Some(all) =>
        all.groupBy("id").agg((if (max) org.apache.spark.sql.functions.max(col("t"))
          else sum(col("t"))).as("value"))
    }
  }
}
