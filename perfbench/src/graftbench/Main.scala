package graftbench

import org.apache.spark.sql.SparkSession
import java.lang.management.ManagementFactory
import java.nio.file.{Path, Paths}
import scala.collection.mutable

/** The link-graph benchmark: one workload per process, one `local[cores]`
  * session, closed loop with one client. See perfbench/README.md.
  *
  * Args: --workload NAME --seed N --seconds S --trace 0|1 --root DIR [--smoke]
  */
object Main {

  /** Every time here is CPU time of the process (all its threads), not
    * wall-clock time: on a shared VM the hypervisor's CPU steal stretches
    * wall time by up to 2x within minutes, and process CPU time leaves
    * steal out (see README). Wall times are still logged.
    */
  val EndToEnd: Seq[(String, String)] = Seq(
    "setup_s" -> "s", "cpu_s" -> "s", "ops_ok_frac" -> "fraction")

  val PerLayer: Seq[(String, String)] = Seq(
    "core.Graph.symmetrize_s" -> "s", "core.Graph.adjacency_s" -> "s",
    "core.Graph.arcs" -> "count", "core.Graph.adj_rows" -> "count",
    "ingest.FilesTable.s" -> "s", "ingest.FilesTable.rows" -> "count",
    "ingest.EdgeDeriver.s" -> "s", "ingest.EdgeDeriver.edges" -> "count",
    "core.Rank.s" -> "s",
    "core.Materializer.calls" -> "count", "core.Materializer.self_s" -> "s",
    "core.Materializer.bytes_written" -> "B",
    "algo.MultiBfs.supersteps" -> "count", "algo.MultiBfs.superstep_s" -> "s",
    "algo.MultiBfs.frontier_rows" -> "count",
    "algo.BitsetBfs.prepare_s" -> "s", "algo.BitsetBfs.supersteps" -> "count",
    "algo.BitsetBfs.superstep_s" -> "s", "algo.BitsetBfs.frontier_chunks" -> "count",
    "algo.Chechik.s" -> "s", "algo.Chechik.supersteps" -> "count",
    "algo.Chechik.total_bfs" -> "count", "algo.Chechik.exact_bfs" -> "count",
    "algo.Chechik.sample_size" -> "count", "algo.Chechik.useful_ratio" -> "ratio",
    "algo.PageRank.iterations" -> "count", "algo.PageRank.superstep_s" -> "s",
    "algo.Components.rounds" -> "count", "algo.Components.round_s" -> "s",
    "algo.Triangles.s" -> "s", "algo.Triangles.count" -> "count",
    "algo.LabelProp.rounds" -> "count", "algo.LabelProp.s" -> "s",
    "spark.jobs" -> "count", "spark.stages" -> "count", "spark.tasks" -> "count",
    "spark.shuffle_write_mb" -> "MB", "spark.shuffle_read_mb" -> "MB", "spark.spill_mb" -> "MB",
    "spark.gc_s" -> "s", "spark.task_cpu_s" -> "s", "spark.task_run_s" -> "s",
    "spark.driver_gap_s" -> "s", "spark.storage_mb_peak" -> "MB",
    "rep.supersteps" -> "count", "rep.arcs_visited" -> "count",
    "job.topk_s" -> "s", "job.ingest_s" -> "s", "job.bfs-scores_s" -> "s", "job.pagerank_s" -> "s",
    "job.components_s" -> "s", "job.triangles_s" -> "s", "job.labelprop_s" -> "s", "job.bitset-harmonic_s" -> "s",
    "trace.wall_untraced_s" -> "s", "trace.wall_traced_s" -> "s", "trace.overhead_s" -> "s")

  /** Set-ups per run: at least `SetupReps`, and more until the warm ones
    * (all but the JIT-cold first) add up to `SetupSeconds` of wall time, so
    * cheap set-ups get a steadier median. `setup_s` is the median CPU time
    * of all of them.
    */
  val SetupReps = 3
  val SetupSeconds = 1.5
  /** A rep of either workload takes over ten seconds, so one measured rep
    * per run keeps a run near 40 s (see README).
    */
  val MinReps = 1

  /** Spark task threads (and shuffle partitions). With 4 task threads on
    * a 4-vCPU host the driver, JIT and GC threads compete with them, and a
    * rep burns ~45 % more CPU time, spread 19 % over seeds instead of 5 %.
    */
  val Cores = 2

  final case class Opts(workload: String, seed: Int, seconds: Double, trace: Boolean, root: Path, smoke: Boolean)

  private def parse(args: Array[String]): Opts = {
    val kv = mutable.HashMap.empty[String, String]
    var smoke = false
    var i = 0
    while (i < args.length) {
      args(i) match {
        case "--smoke" => smoke = true; i += 1
        case k if k.startsWith("--") && i + 1 < args.length => kv(k.drop(2)) = args(i + 1); i += 2
        case other => throw new IllegalArgumentException(s"unexpected argument '$other'")
      }
    }
    Opts(kv("workload"), kv.getOrElse("seed", "1").toLong.toInt, kv.getOrElse("seconds", "10").toDouble,
      kv.getOrElse("trace", "0") == "1", Paths.get(kv.getOrElse("root", ".")).toAbsolutePath, smoke)
  }

  def log(o: Opts, msg: String): Unit =
    println(s"# [${o.workload} seed=${o.seed}${if (o.trace) " trace" else ""}] $msg")

  private def median(xs: Seq[Double]): Double =
    if (xs.isEmpty) 0.0
    else {
      val s = xs.sorted
      if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
    }

  private val cpuBean = ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean]

  /** One rep's outcome. */
  final case class Rep(wall: Double, cpu: Double, supersteps: Long, arcs: Double, peakMb: Double,
      attempted: Int, failed: Int, errors: Seq[String], stepsByJob: Seq[Long], jobWalls: Seq[Double],
      jobCpus: Seq[Double], layers: Map[String, Double])

  def main(args: Array[String]): Unit = {
    val o = parse(args)
    val code = try run(o) catch {
      case e: Throwable =>
        System.err.println(s"graftbench: ${o.workload} failed")
        e.printStackTrace()
        2
    }
    System.out.flush()
    sys.exit(code)
  }

  def run(o: Opts): Int = {
    val origin = System.nanoTime()
    val jvmStart = ManagementFactory.getRuntimeMXBean.getStartTime
    val cores = math.min(Cores, Runtime.getRuntime.availableProcessors())
    val build = o.root.resolve(".bench_build")
    val work = build.resolve("work").resolve(s"${o.workload}-${ProcessHandle.current().pid()}")
    val localDir = build.resolve("spark-local")
    java.nio.file.Files.createDirectories(localDir)
    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .appName("graftbench")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.default.parallelism", cores.toString)
      .config("spark.sql.adaptive.enabled", "false")
      .config("spark.sql.join.preferSortMergeJoin", "false")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", localDir.toString)
      .config("spark.sql.warehouse.dir", build.resolve("warehouse").toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.driver.host", "127.0.0.1")
      .config("spark.driver.bindAddress", "127.0.0.1")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val (correct, result) = try {
      val sizes = if (o.smoke) Sizes.Smoke else Sizes.Full
      val sessionS = (System.currentTimeMillis() - jvmStart) / 1e3
      val conf = spark.conf
      log(o, s"session local[$cores] shuffle.partitions=${conf.get("spark.sql.shuffle.partitions")} " +
        s"aqe=${conf.get("spark.sql.adaptive.enabled")} " +
        s"preferSortMergeJoin=${conf.get("spark.sql.join.preferSortMergeJoin")} " +
        s"heap_max_mb=${Runtime.getRuntime.maxMemory() / (1 << 20)} " +
        s"nproc=${Runtime.getRuntime.availableProcessors()} local.dir=$localDir dir_materializer=$work " +
        s"spark=${spark.version} jvm_to_session_s=$sessionS")
      log(o, s"sizes $sizes seconds=${o.seconds}")

      // set-ups are traced in a traced run; reps set their own mode
      val tracer = new Tracer(o.trace || o.smoke, origin)
      val storage = new StorageListener
      spark.sparkContext.addSparkListener(storage)
      val ctx = Ctx(spark, o.seed, sizes, work, tracer)
      val wl = Workloads(o.workload, ctx)

      // set-up, repeated; the last one stays for the timed reps
      val setupLayers = mutable.ArrayBuffer.empty[Map[String, Double]]
      val setups = mutable.ArrayBuffer.empty[Double]
      val setupCpus = mutable.ArrayBuffer.empty[Double]
      def setupDone = o.smoke || (setups.size >= SetupReps && setups.tail.sum >= SetupSeconds)
      while (setups.isEmpty || !setupDone) {
        if (setups.nonEmpty) wl.release()
        tracer.reset(s"setup-${setups.size + 1}")
        val c0 = cpuBean.getProcessCpuTime
        val t0 = System.nanoTime()
        wl.setup()
        setups += (System.nanoTime() - t0) / 1e9
        setupCpus += (cpuBean.getProcessCpuTime - c0) / 1e9
        setupLayers += tracer.counters.toMap
      }
      log(o, s"set-up wall s ${setups.map(s => f"$s%.3f").mkString(" ")}; " +
        s"cpu s ${setupCpus.map(s => f"$s%.3f").mkString(" ")}")
      val r0 = System.nanoTime()
      wl.reference()
      log(o, f"reference built in ${(System.nanoTime() - r0) / 1e9}%.3f s")

      def quiesce(): Unit = {
        System.gc()
        org.apache.spark.graftbench.Bus.drain(spark.sparkContext)
        storage.resetPeak()
      }

      def rep(id: String, traced: Boolean): Rep = {
        quiesce()
        tracer.reset(id)
        tracer.traced = traced
        val engine = if (traced) Some(new EngineListener) else None
        engine.foreach(spark.sparkContext.addSparkListener(_))
        val fromMs = System.currentTimeMillis()
        var wall, cpu, arcs = 0.0
        var steps = 0L
        var failed = 0
        val errors = mutable.ArrayBuffer.empty[String]
        val stepsByJob = mutable.ArrayBuffer.empty[Long]
        val jobWalls = mutable.ArrayBuffer.empty[Double]
        val jobCpus = mutable.ArrayBuffer.empty[Double]
        var broken = false
        for ((name, job) <- wl.jobs) {
          if (broken) {
            failed += 1; errors += s"$name: skipped after an earlier failure"; stepsByJob += -1; jobWalls += 0.0
            jobCpus += 0.0
          }
          else {
            val c0 = cpuBean.getProcessCpuTime
            val t0 = System.nanoTime()
            val out = try Right(tracer.span(s"job.${name}_s")(job())) catch { case e: Throwable => Left(e) }
            jobWalls += (System.nanoTime() - t0) / 1e9
            jobCpus += (cpuBean.getProcessCpuTime - c0) / 1e9
            wall += jobWalls.last
            cpu += jobCpus.last
            out match {
              case Left(e) =>
                failed += 1; broken = true; stepsByJob += -1
                errors += s"$name: ${e.getClass.getSimpleName}: ${e.getMessage}"
              case Right(j) =>
                steps += j.supersteps
                arcs += j.arcs
                stepsByJob += j.supersteps
                val errs = j.check()
                if (errs.nonEmpty) { failed += 1; errors ++= errs.map(e => s"$name: $e") }
            }
          }
        }
        val toMs = System.currentTimeMillis()
        org.apache.spark.graftbench.Bus.drain(spark.sparkContext)
        engine.foreach { l =>
          spark.sparkContext.removeSparkListener(l)
          l.report(tracer, fromMs, toMs)
        }
        val peak = storage.peakBytes / (1024.0 * 1024.0)
        wl.endRep()
        Rep(wall, cpu, steps, arcs, peak, wl.jobs.size, failed, errors.toSeq, stepsByJob.toSeq, jobWalls.toSeq,
          jobCpus.toSeq, tracer.counters.toMap)
      }

      // no warm-up rep for the end-to-end metrics: the set-ups have already
      // warmed the JVM and Spark, and one would add ~40 % to a run (see
      // README). A traced run has one, so that the untraced and traced reps
      // it compares for the tracing overhead are both warm.
      val warm = if (o.trace) Seq(rep("warmup", traced = false)) else Nil

      // measured reps: untraced only, or untraced and traced alternating
      val untraced = mutable.ArrayBuffer.empty[Rep]
      val traced = mutable.ArrayBuffer.empty[Rep]
      val steal0 = hostSteal()
      val t0 = System.nanoTime()
      def elapsed = (System.nanoTime() - t0) / 1e9
      var n = 0
      while (untraced.size < MinReps || elapsed < o.seconds) {
        n += 1
        untraced += rep(s"rep-$n", traced = false)
        if (o.trace || o.smoke) traced += rep(s"traced-$n", traced = true)
      }
      val all = warm ++ untraced ++ traced
      all.flatMap(_.errors).distinct.foreach(e => log(o, s"CHECK FAILED $e"))
      val attempted = (untraced ++ traced).map(_.attempted).sum
      val failed = (untraced ++ traced).map(_.failed).sum

      // the traced reps must do the same work and pass the same checks
      val agree = all.map(_.stepsByJob).distinct.size == 1 && all.map(_.errors).distinct.size == 1
      if (!agree) log(o, s"traced and untraced reps disagree: supersteps ${all.map(_.stepsByJob).distinct} " +
        s"errors ${all.map(_.errors.size).distinct}")
      val correct = failed == 0 && warm.forall(_.failed == 0) && agree

      // a rep's time is the sum over its jobs of each job's median over the
      // reps, so one job's outlier in one rep is outvoted by its other samples
      def perJob(f: Rep => Seq[Double]): Double =
        wl.jobs.indices.map(i => median(untraced.map(r => f(r)(i)).toSeq)).sum
      val cpu = perJob(_.jobCpus)
      val endToEnd = Map(
        "setup_s" -> median(setupCpus.toSeq),
        "cpu_s" -> cpu,
        "ops_ok_frac" -> (1.0 - failed.toDouble / math.max(attempted, 1)))
      val perLayer: Map[String, Double] = PerLayer.map { case (name, _) =>
        val fromReps = median(traced.map(_.layers.getOrElse(name, 0.0)).toSeq)
        val fromSetup = median(setupLayers.map(_.getOrElse(name, 0.0)).toSeq)
        name -> (fromReps + fromSetup)
      }.toMap ++ Map(
        "spark.storage_mb_peak" -> median(traced.map(_.peakMb).toSeq),
        "rep.supersteps" -> median(traced.map(_.supersteps.toDouble).toSeq),
        "rep.arcs_visited" -> median(traced.map(_.arcs).toSeq),
        "trace.wall_untraced_s" -> median(untraced.map(_.wall).toSeq),
        "trace.wall_traced_s" -> median(traced.map(_.wall).toSeq),
        "trace.overhead_s" -> (median(traced.map(_.wall).toSeq) - median(untraced.map(_.wall).toSeq)))

      val stealShare = for ((steal, total) <- steal0; (steal1, total1) <- hostSteal() if total1 > total)
        yield (steal1 - steal).toDouble / (total1 - total)
      log(o, f"measured for $elapsed%.1f s; ${(System.currentTimeMillis() - jvmStart) / 1e3}%.1f s since JVM start; " +
        stealShare.fold("host steal unknown")(x => f"host CPU steal ${100 * x}%.1f%%"))
      log(o, s"reps untraced=${untraced.size} traced=${traced.size} attempted=$attempted failed=$failed " +
        s"rep wall s ${untraced.map(r => f"${r.wall}%.2f").mkString(" ")}; " +
        s"cpu s ${untraced.map(r => f"${r.cpu}%.2f").mkString(" ")}")
      log(o, f"rep supersteps ${median(untraced.map(_.supersteps.toDouble).toSeq)}%.0f " +
        f"arcs_visited ${median(untraced.map(_.arcs).toSeq)}%.0f " +
        f"storage_mb_peak ${median(untraced.map(_.peakMb).toSeq)}%.3f")
      for ((what, f) <- Seq[(String, Rep => Seq[Double])]("wall" -> (_.jobWalls), "cpu" -> (_.jobCpus)))
        log(o, f"median job $what s (sum ${perJob(f)}%.3f) " + wl.jobs.map(_._1).zipWithIndex.map {
          case (name, i) => f"$name=${median(untraced.map(r => f(r)(i)).toSeq)}%.3f" }.mkString(" "))
      if (traced.nonEmpty) {
        val spanFile = build.resolve("traces")
          .resolve(s"${o.workload}-seed${o.seed}-${ProcessHandle.current().pid()}.json")
        tracer.dumpJson(spanFile)
        log(o, s"spans ${tracer.spans.size} written to $spanFile")
      }
      for ((k, u) <- EndToEnd) log(o, f"$k%-18s ${endToEnd(k)}%.6f $u")
      if (o.trace || o.smoke) for ((k, u) <- PerLayer) log(o, f"$k%-34s ${perLayer(k)}%.6f $u")

      val shown =
        if (o.smoke) EndToEnd.map(k => (k, endToEnd(k._1))) ++ PerLayer.map(k => (k, perLayer(k._1)))
        else if (o.trace) PerLayer.map(k => (k, perLayer(k._1)))
        else EndToEnd.map(k => (k, endToEnd(k._1)))
      val metrics = shown.map { case ((k, u), v) => s""""$k": {"value": ${jsonNum(v)}, "unit": "$u"}""" }
      (correct, s"""{"correct": $correct, "attempted": $attempted, "failed": $failed, """ +
        s""""metrics": {${metrics.mkString(", ")}}}""")
    } finally {
      val s0 = System.nanoTime()
      spark.stop()
      DirBytes.deleteTree(work)
      log(o, f"session stopped in ${(System.nanoTime() - s0) / 1e9}%.3f s")
    }
    println(result)
    if (correct) 0 else 1
  }

  /** (steal, total) CPU jiffies of the host since boot, where the OS shows
    * them: time the hypervisor gave this VM's CPUs to others, the main
    * source of run-to-run noise on a shared VM.
    */
  private def hostSteal(): Option[(Long, Long)] =
    try {
      val f = scala.io.Source.fromFile("/proc/stat")
      try {
        val cpu = f.getLines().next().trim.split("\\s+").drop(1).take(8).map(_.toLong)
        Some((cpu(7), cpu.sum))
      } finally f.close()
    } catch { case _: Exception => None }

  private def jsonNum(v: Double): String =
    if (v.isNaN || v.isInfinite) "0" else java.math.BigDecimal.valueOf(v).toPlainString
}
