package graftbench

import graft.core.Materializer
import org.apache.spark.scheduler._
import org.apache.spark.sql.{Column, DataFrame}
import scala.collection.mutable

/** One timed call: name, start/end (ns since the run's origin), the span
  * that was open when it started (-1 for none) and the rep it belongs to.
  */
final case class Span(id: Int, name: String, start: Long, end: Long, parent: Int, run: String)

/** Per-rep layer counters plus, while `traced`, the spans around each call
  * into a layer. Untraced, only superstep counts are kept (they drive the
  * end-to-end supersteps_per_s); nothing is timed and no wrapper is built.
  */
final class Tracer(var traced: Boolean, origin: Long) {
  val spans = mutable.ArrayBuffer.empty[Span]
  private val stack = mutable.Stack.empty[Int]
  private var nextId = 0
  var run: String = "setup"
  /** Layer counters of the current rep (name → value, summed). */
  val counters = mutable.LinkedHashMap.empty[String, Double]

  def add(name: String, v: Double): Unit = counters(name) = counters.getOrElse(name, 0.0) + v
  def reset(runId: String): Unit = { run = runId; counters.clear() }

  /** Time `f` as a span named `name`, adding its seconds to counter `name`
    * when tracing. Untraced it is a plain call.
    */
  def span[A](name: String)(f: => A): A =
    if (!traced) f
    else {
      val id = nextId
      nextId += 1
      val parent = stack.headOption.getOrElse(-1)
      stack.push(id)
      val t0 = System.nanoTime()
      try f
      finally {
        val t1 = System.nanoTime()
        stack.pop()
        spans += Span(id, name, t0 - origin, t1 - origin, parent, run)
        add(name, (t1 - t0) / 1e9)
      }
    }

  /** Superstep callback for a loop of layer `layer`: counts supersteps
    * into `layer.countName`; traced, it also sums the reported frontier size
    * into `layer.frontierName` and times the loop (see [[Steps.around]]).
    */
  def steps(layer: String, countName: String, timeName: String, frontierName: String = ""): Steps =
    new Steps(this, s"$layer.$countName", s"$layer.$timeName",
      if (frontierName.isEmpty) "" else s"$layer.$frontierName")

  /** The call's default materializer, wrapped in a delegating timer when
    * tracing; untraced the default itself is passed.
    */
  def mat(inner: Materializer, dir: Option[java.nio.file.Path] = None): Materializer =
    if (traced) new TimedMaterializer(inner, this, dir) else inner

  def dumpJson(path: java.nio.file.Path): Unit = {
    val sb = new StringBuilder("[\n")
    spans.sortBy(_.start).zipWithIndex.foreach { case (s, i) =>
      if (i > 0) sb ++= ",\n"
      sb ++= s"""{"id":${s.id},"name":"${s.name}","start_ns":${s.start},"end_ns":${s.end},""" +
        s""""parent":${s.parent},"run":"${s.run}"}"""
    }
    sb ++= "\n]\n"
    java.nio.file.Files.createDirectories(path.getParent)
    java.nio.file.Files.writeString(path, sb.toString)
  }
}

final class Steps(t: Tracer, countName: String, timeName: String, frontierName: String) {
  private var start = System.nanoTime()
  private var last = start
  var count = 0L
  def apply(d: Int, frontier: Double): Unit = {
    count += 1
    t.add(countName, 1)
    if (t.traced) {
      last = System.nanoTime()
      if (frontierName.nonEmpty) t.add(frontierName, frontier)
    }
  }
  /** Run the layer call `f` with this callback; traced, records the mean
    * seconds per superstep from the call's start to its last callback.
    */
  def around[A](f: => A): A = {
    start = System.nanoTime()
    last = start
    val out = f
    if (t.traced && count > 0) t.add(timeName, (last - start) / 1e9 / count)
    out
  }
  def long: (Int, Long) => Unit = (d, c) => apply(d, c.toDouble)
  def double: (Int, Double) => Unit = (d, c) => apply(d, c)
}

/** Delegating timer around a call's default [[Materializer]]: forwards every
  * member (so chaining, resume and close behave exactly as the default) and
  * adds the time spent inside each call to `core.Materializer.self_s`. With a
  * directory strategy it also records the bytes on disk after each write.
  */
final class TimedMaterializer(inner: Materializer, t: Tracer, dir: Option[java.nio.file.Path])
    extends Materializer {
  private def timed[A](f: => A): A = {
    t.add("core.Materializer.calls", 1)
    val t0 = System.nanoTime()
    try f finally t.add("core.Materializer.self_s", (System.nanoTime() - t0) / 1e9)
  }
  private def written[A](a: A): A = {
    dir.foreach { d => t.add("core.Materializer.bytes_written", DirBytes.sizeDelta(d)) }
    a
  }
  override def iterate(df: DataFrame, iter: Int, metric: Double): DataFrame =
    written(timed(inner.iterate(df, iter, metric)))
  override def iterateCounted(df: DataFrame, iter: Int, metric: Double): (DataFrame, Long) =
    written(timed(inner.iterateCounted(df, iter, metric)))
  override def iterateCountedWhere(
      df: DataFrame, iter: Int, metric: Double, pred: Column): (DataFrame, Long) =
    written(timed(inner.iterateCountedWhere(df, iter, metric, pred)))
  override def iterateDeferred(df: DataFrame, iter: Int, metric: Double): DataFrame =
    written(timed(inner.iterateDeferred(df, iter, metric)))
  override def chainCapacity: Int = inner.chainCapacity
  override def resumeIncrements(): Seq[(Int, DataFrame)] = inner.resumeIncrements()
  override def close(): Unit = inner.close()
}

/** File-size bookkeeping for the directory materializer. */
object DirBytes {
  private val seen = mutable.HashMap.empty[java.nio.file.Path, Long]

  /** Bytes under `d` now minus the last reading for `d`. */
  def sizeDelta(d: java.nio.file.Path): Double = synchronized {
    val now = treeBytes(d)
    val before = seen.getOrElse(d, 0L)
    seen(d) = now
    (now - before).toDouble
  }

  def treeBytes(d: java.nio.file.Path): Long =
    if (!java.nio.file.Files.exists(d)) 0L
    else {
      val s = java.nio.file.Files.walk(d)
      try s.filter(java.nio.file.Files.isRegularFile(_)).mapToLong(java.nio.file.Files.size(_)).sum()
      finally s.close()
    }

  def deleteTree(d: java.nio.file.Path): Unit =
    if (java.nio.file.Files.exists(d)) {
      val s = java.nio.file.Files.walk(d)
      try s.sorted(java.util.Comparator.reverseOrder()).forEach(p => java.nio.file.Files.deleteIfExists(p))
      finally s.close()
      seen.synchronized(seen.remove(d))
    }
}

/** Bytes held in persisted or checkpointed RDD blocks, and their peak since
  * the last [[resetPeak]]. Registered for the whole run (it feeds the
  * end-to-end `state_mb_peak`). Unpersisting an RDD drops its blocks without
  * a per-block update, so the RDD's whole entry goes on its unpersist event.
  */
final class StorageListener extends SparkListener {
  private val rdds = mutable.HashMap.empty[Int, mutable.HashMap[Int, Long]]
  private var current = 0L
  private var peak = 0L
  override def onBlockUpdated(e: SparkListenerBlockUpdated): Unit = synchronized {
    val info = e.blockUpdatedInfo
    info.blockId match {
      case org.apache.spark.storage.RDDBlockId(rdd, split) =>
        val blocks = rdds.getOrElseUpdate(rdd, mutable.HashMap.empty)
        val size = if (info.storageLevel.isValid) info.memSize + info.diskSize else 0L
        current += size - blocks.getOrElse(split, 0L)
        if (size == 0L) blocks.remove(split) else blocks(split) = size
        peak = math.max(peak, current)
      case _ => ()
    }
  }
  override def onUnpersistRDD(e: SparkListenerUnpersistRDD): Unit = synchronized {
    rdds.remove(e.rddId).foreach(blocks => current -= blocks.values.sum)
  }
  def resetPeak(): Unit = synchronized { peak = current }
  def peakBytes: Long = synchronized(peak)
}

/** Engine counters of the traced reps, from task and job events. Added to
  * the session for a traced rep and removed after it.
  */
final class EngineListener extends SparkListener {
  var jobs, stages, tasks = 0L
  var shuffleWrite, shuffleRead, spill = 0L
  var gcMs, runMs, cpuNs = 0L
  private val open = mutable.HashMap.empty[Int, Long]
  val jobIntervals = mutable.ArrayBuffer.empty[(Long, Long)]

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    jobs += 1
    open(e.jobId) = e.time
  }
  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    open.remove(e.jobId).foreach(s => jobIntervals += ((s, e.time)))
  }
  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized { stages += 1 }
  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    tasks += 1
    val m = e.taskMetrics
    if (m != null) {
      shuffleWrite += m.shuffleWriteMetrics.bytesWritten
      shuffleRead += m.shuffleReadMetrics.totalBytesRead
      spill += m.memoryBytesSpilled + m.diskBytesSpilled
      gcMs += m.jvmGCTime
      runMs += m.executorRunTime
      cpuNs += m.executorCpuTime
    }
  }

  /** Milliseconds of [from, to] during which no job was running. */
  def idleMs(from: Long, to: Long): Long = synchronized {
    val iv = jobIntervals.map { case (s, e) => (math.max(s, from), math.min(e, to)) }
      .filter { case (s, e) => e > s }.sortBy(_._1)
    var covered = 0L
    var reach = from
    for ((s, e) <- iv) {
      if (e > reach) { covered += e - math.max(s, reach); reach = e }
    }
    (to - from) - covered
  }

  def report(t: Tracer, fromMs: Long, toMs: Long): Unit = synchronized {
    val mb = 1024.0 * 1024.0
    t.add("spark.jobs", jobs.toDouble)
    t.add("spark.stages", stages.toDouble)
    t.add("spark.tasks", tasks.toDouble)
    t.add("spark.shuffle_write_mb", shuffleWrite / mb)
    t.add("spark.shuffle_read_mb", shuffleRead / mb)
    t.add("spark.spill_mb", spill / mb)
    t.add("spark.gc_s", gcMs / 1e3)
    t.add("spark.task_cpu_s", cpuNs / 1e9)
    t.add("spark.task_run_s", runMs / 1e3)
    t.add("spark.driver_gap_s", idleMs(fromMs, toMs) / 1e3)
  }
}
