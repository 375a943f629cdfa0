package graft.algo

import graft.core.{Materializer, LocalMaterializer, Supersteps}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.CheckpointStats.bind

/** Chechik–Cohen–Kaplan sampled top-k closeness (the reference's flagship,
  * ChechikEstimator.java + ChechikFarnessEstimator.java +
  * ChechikTopCloseness.java), re-expressed as Dataset supersteps:
  *
  *  1. pivot sample of size max(⌈log₂ n⌉, 2) (ChechikEstimator.java:68-70)
  *  2. multi-source BFS from pivots → λ(w) = max(1/n, max_s d(s,w)/F(s))
  *     (A9, ChechikEstimator.java:52,151-160)
  *  3. keep-probability p_v = min(1, K·λ_v), K = ⌈ln n / ε²⌉
  *     (A10, ChechikEstimator.java:46,166-172)
  *  4. Bernoulli sample S by p_v; ONE multi-source BFS from S yields each
  *     source's exact farness and, for v ∉ S, the Horvitz–Thompson estimate
  *     apxF(v) = Σ_{s∈S} d(s,v)/p_s
  *     (A8, ChechikFarnessEstimator.java:143,158-161)
  *  5. certification loop (T7, ChechikTopCloseness.java:148-153,182-219)
  *     over V∖S only — S starts out processed with its exact farness, so no
  *     vertex of S is BFS'd again: exact-BFS candidates in ascending apxF
  *     batches; certify processed v once
  *     exactCloseness(v) ≥ (1+ε)·max apxCloseness of the unprocessed; stop
  *     at ≥ k certified.
  *
  * When K ≥ n, λ_v ≥ 1/n makes every p_v = 1, so steps 1-3 are skipped and
  * S = V (the sample they would draw, since the uniform is < 1): the run is
  * one n-source BFS, every farness exact, and step 5 has nothing to do.
  *
  * Every BFS of a run — estimator, sample, one per certification batch —
  * comes from one [[Visit.Selector]], which picks its physical form and
  * states what the forms agree on.
  *
  * A run is planned on one loop session ([[graft.core.Supersteps.session]],
  * AQE off and the co-partitioning rule pinned), opened at its entry: the
  * set-up, the certification checks, the top-k boundary and every row
  * visit plan there, so a run submits the same jobs whatever the caller's
  * AQE setting. Bitset visits run on their Prep's bitset session, cloned
  * once from the run's. The top-k is bound back to the caller's session.
  *
  * Determinism: the reference uses Math.random() (ChechikEstimator.java:60);
  * we use xxhash64-derived uniforms keyed by (seed, vertex id) — fully
  * deterministic and partition-independent (SURVEY.md §4.2.4), unlike
  * Spark's rand() whose draw depends on partition layout.
  */
object Chechik {

  case class Telemetry(
      n: Long, initialPivots: Long, sampleSize: Long, exactBfs: Long,
      totalBfs: Long, supersteps: Long)

  /** U(0,1) pseudo-random, deterministic in (seed, id). */
  private def u01(seed: Int, id: org.apache.spark.sql.Column) =
    pmod(xxhash64(lit(seed), id), lit(1000000L)).cast("double") / 1000000.0

  /** Sample coefficient K = ⌈ln n / ε²⌉ (ChechikEstimator.java:46). */
  def kCoefficient(n: Long, eps: Double): Double =
    math.ceil(math.log(n.toDouble) / (eps * eps))

  /** Estimator coefficients from a pivot visit `v`
    * (ChechikEstimator.java:51-65, SURVEY.md A9/A10): per vertex,
    * λ(w) = max(1/n, max_s d(s,w)/F(s)) over pivots s with total farness
    * F(s) > 0, and Bernoulli keep-probability p(w) = min(1, K·λ(w)).
    * Returns (id, lambda, p) for EVERY vertex of `verts`.
    *
    * The one visit feeds both halves: F(s) per pivot from its farness, then
    * the per-target max ratio with the F(s) divisors. The ratios are
    * checkpointed, so the result no longer reads `v`: the caller may
    * release it.
    */
  def estimatorCoefficients(v: Visit, verts: DataFrame, n: Long, eps: Double = 0.1): DataFrame = {
    val divisors = v.farness
      .where(col("farness") > 0)
      .select(col("id").as("pivot"), col("farness").cast("double").as("div"))
    val maxr = v.reverseMax(divisors).localCheckpoint(true)
    val kCoef = kCoefficient(n, eps)
    verts
      .join(maxr, Seq("id"), "left")
      .select(col("id"), greatest(coalesce(col("value"), lit(0.0)), lit(1.0 / n)).as("lambda"))
      .withColumn("p", least(lit(1.0), lit(kCoef) * col("lambda")))
  }

  def topkCloseness(
      spark: SparkSession,
      adjacency: DataFrame,
      k: Int,
      eps: Double = 0.1,
      seed: Int = 42,
      batchSize: Int = 128,
      mat: Materializer = new LocalMaterializer()): (DataFrame, Telemetry) = {

    var supersteps = 0L
    val sess = Supersteps.session(spark)
    val adj = bind(adjacency, sess)

    // lazy checkpoint: the count is the one job that materializes it
    val verts = adj.select(col("src").as("id")).distinct().localCheckpoint(eager = false)
    val n = verts.count()
    val visits = new Visit.Selector(adj, n, (_, _) => supersteps += 1)

    // steps 1-3 and the Bernoulli draw are skipped when K ≥ n: λ_v ≥ 1/n
    // makes every p_v = min(1, K·λ_v) equal to 1, and u01 < 1, so the
    // sample is all of V
    val allSampled = kCoefficient(n, eps) >= n
    val nPivots =
      if (allSampled) 0L
      else math.max(math.ceil(math.log(n.toDouble) / math.log(2)).toLong, 2L).min(n)

    // `probs` reads `verts` and the estimator's checkpointed ratios
    val (sample, sampleSize, probs) =
      if (allSampled) (verts.select(col("id"), lit(1.0).as("p")), n, None)
      else {
        // 1. uniform pivot sample without replacement, seeded (R1)
        val pivots = verts
          .orderBy(xxhash64(lit(seed), col("id")))
          .limit(nPivots.toInt)
          .select(col("id").as("pivot"))
        // 2-3. λ coefficients + keep probabilities from the pivot BFS (A9/A10)
        val vPivots = visits(pivots, nPivots)
        val probs = estimatorCoefficients(vPivots, verts, n, eps).select(col("id"), col("p"))
        vPivots.release()
        // 4. Bernoulli sample S (R2)
        val s = probs.where(u01(seed + 1, col("id")) < col("p")).localCheckpoint(eager = false)
        (s, s.count(), Some(probs))
      }
    val unsampled = n - sampleSize

    // 4. ONE visit from S feeds two consumers: every source's EXACT farness
    // (seeds `processed` — no vertex of S is ever BFS'd again) and, for the
    // vertices outside S, the Horvitz–Thompson estimate
    // apxF(v) = Σ_s d(s,v)/p_s. Both checkpoints are eager: certification,
    // the top-k boundary and the caller's action all read the farness, and
    // the visit is released below.
    val vSample = visits(sample.select(col("id").as("pivot")), sampleSize)
    val sampleFarness = vSample.farness.localCheckpoint(true)
    val apxFarness = if (unsampled == 0) None else Some(
      vSample.reverseSum(sample.select(col("id").as("pivot"), col("p").as("div")))
        .select(col("id"), col("value").as("apxF"))
        .localCheckpoint(true))
    vSample.release()

    // 5. certification loop over V∖S only (nothing to certify when S = V).
    // Schedule position via distributed range minting (Rank.globalRank) —
    // the schedule is |V∖S| rows and a global row_number window would sort
    // all of them through ONE task at scale. Its frame reads only the
    // checkpoint globalRank builds, freed with the schedule below.
    val schedule = apxFarness.map(apx => graft.core.Rank.globalRank(
      verts
        .join(sample.select("id"), Seq("id"), "left_anti")
        .join(apx, Seq("id"), "left")
        .select(col("id"), coalesce(col("apxF"), lit(Double.MaxValue)).as("apxF")),
      "pos", asc("apxF"), asc("id")))
    // the sample's farness and the schedule's rank are checkpointed:
    // certification and the top-k read nothing else of the set-up
    (Seq(verts, sample) ++ probs ++ apxFarness).foreach(Materializer.unpersistCheckpoint(_))

    var processed = sampleFarness
    var exactBfs = 0L
    schedule.foreach { schedule =>
      // processed vertices whose exact closeness is ≥ (1+ε)·the largest
      // estimated closeness among unprocessed positions ≥ l. ONE aggregate
      // job: the 1-row remainder aggregate broadcasts into a crossJoin and
      // the certified count folds over it in the same action.
      def certifiedFrom(l: Long): Long = {
        val remAgg = schedule.where(col("pos") >= l)
          .agg(coalesce(max(lit(1.0) / nullif(col("apxF"), lit(0.0))), lit(0.0))
            .as("maxRem"))
        processed
          .crossJoin(broadcast(remAgg))
          .agg(count(when(
            col("farness") > 0 &&
              lit(1.0) / col("farness") >= lit(1.0 + eps) * col("maxRem"), 1)))
          .head().getLong(0)
      }

      // Reference batches 10 BFS between re-sorts (TopCloseness.java:22);
      // under level-synchronous execution a batch is ONE multi-source BFS,
      // so larger batches amortize per-superstep job overhead — the
      // certification guarantee is unchanged, at most one batch of extra
      // exact BFS work.
      val batch = math.max(k, batchSize)
      var l = 0L
      var certified = certifiedFrom(0L)
      while (certified < k && l < unsampled) {
        val batchIds = schedule.where(col("pos") >= l && col("pos") < l + batch)
          .select(col("id").as("pivot"))
        // exact farness per batch pivot
        val vBatch = visits(batchIds, batch)
        // a DirMaterializer reads back through its own session
        val next = bind(mat.iterate(processed.unionAll(vBatch.farness), (l / batch).toInt,
          certified.toDouble), sess)
        // `next` is materialized (mat.iterate is eager): the batch visit's
        // cached state and the processed set it replaces are dead now
        vBatch.release()
        Materializer.unpersistCheckpoint(processed)
        processed = next
        // positions are dense 0..|V∖S|-1, so [l, l+batch) holds
        // min(batch, |V∖S|−l) ids — no count job in the loop
        exactBfs += math.min(batch, unsampled - l)
        l += batch
        certified = certifiedFrom(l)
      }
      Materializer.unpersistCheckpoint(schedule)
    }

    // top-k among processed, ties on the k-th farness extended (T5,
    // GTLoader.java:45-52); farness is an integer ⇒ ranking is float-free
    // farness 0 = isolated vertex = closeness 0: ranks LAST, not first.
    // Distributed top-k (TakeOrderedAndProject boundary + tie filter), not
    // an unpartitioned rank() window — `processed` can grow to n rows.
    val ranked = processed
      .withColumn("frank", when(col("farness") > 0, col("farness")).otherwise(Long.MaxValue))
    val topk = graft.core.Rank.topkWithTies(ranked, Seq(asc("frank")), k)(
        _.getAs[Long]("frank"))(b => col("frank") <= b.asInstanceOf[Long])
      .select(
        col("id"), col("farness"),
        when(col("farness") > 0, lit(1.0) / col("farness")).otherwise(0.0).as("closeness"))
      .orderBy(asc("farness"), asc("id"))

    visits.release()
    val telemetry = Telemetry(
      n = n, initialPivots = nPivots, sampleSize = sampleSize,
      exactBfs = exactBfs, totalBfs = nPivots + sampleSize + exactBfs,
      supersteps = supersteps)
    (bind(topk, spark), telemetry)
  }
}
