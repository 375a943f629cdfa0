package graft

import graft.core.DirMaterializer
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
}
