package graft

import graft.ann.Ann
import graft.data.Tpch
import org.apache.spark.sql.functions._

/** Physical-plan shape assertions: the 100 TB design claims (pushdown,
  * pruning, broadcast, codegen) must be visible in `.explain`, not just
  * asserted in prose.
  */
class PlanSpec extends SparkTestBase {
  private val dir = "/root/testdata/sf0.001"

  test("projection prunes the parquet scan to selected columns") {
    val plan = Tpch.table(spark, dir, "documents").select("doc_id")
      .queryExecution.executedPlan.toString
    assert(plan.contains("ReadSchema: struct<doc_id:bigint>"), plan)
  }

  test("equality filter pushes down to the parquet scan") {
    val plan = Tpch.table(spark, dir, "documents")
      .where(col("doc_id") === 7L).select("doc_id")
      .queryExecution.executedPlan.toString
    assert(plan.contains("EqualTo(doc_id,7)"), plan)
  }

  test("knnBrute broadcasts the 1-row query vector and stays in codegen") {
    val df = Ann.knnBrute(Tpch.table(spark, dir, "embeddings"), queryId = 0L, k = 5)
    df.collect() // AQE finalizes the physical plan only on execution
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("Broadcast"), plan)
    // whole-stage-codegen'd operators print with a "*(stageId)" prefix
    assert(plan.contains("*("), plan)
  }

  test("bitset tile superstep: ONE exchange, shuffled-hash joins, no sort-merge") {
    // the loop's claim (BitsetBfs scaladoc): with the tile state
    // hash(chunk)-partitioned via its stripped checkpoint and the chunked
    // adjacency from BitsetBfs.prepare, a superstep's only Exchange is the
    // tile-message groupBy — the frontier⋈cadj (on chunk, pos) and
    // state⟕messages (on chunk) joins are both co-partitioned shuffled-hash.
    // Assert it on the real physical plan, on the session of a Prep built
    // from the AQE-on suite session: prepare opens the loop's own session,
    // so cadj keeps its hash(chunk) partitioning at the shuffle-partition
    // count instead of an AQE-coalesced one every superstep re-shuffles.
    assert(spark.conf.get("spark.sql.adaptive.enabled") === "true")
    val prep = graft.algo.BitsetBfs.prepare(
      graft.core.Graph.adjacency(graft.core.Graph.symmetrize(spark.createDataFrame(
        Seq(0L -> 1L, 1L -> 2L, 2L -> 3L, 3L -> 0L)).toDF("src", "dst"))))
    val loop = prep.cadj.sparkSession
    prep.cadj.queryExecution.executedPlan.outputPartitioning match {
      case h: org.apache.spark.sql.catalyst.plans.physical.HashPartitioning =>
        assert(h.numPartitions === spark.conf.get("spark.sql.shuffle.partitions").toInt)
      case other => fail(s"cadj partitioning $other")
    }
    // one chunk tile at the REAL chunk width (round-4 advice: a 64-element
    // fixture only passed because the plan was never run), vertex 0's bit 0
    // newly set
    val cs = graft.algo.BitsetBfs.ChunkSize
    val tile = (0 until cs).map(i => if (i == 0) 1L else 0L)
    val state = org.apache.spark.sql.graft.CheckpointStats.strip(
      loop.createDataFrame(Seq((0L, tile, tile)))
        .toDF("chunk", "ns", "vs")
        .repartition(col("chunk"))
        .localCheckpoint(true))
    val next = graft.algo.BitsetBfs.superstep(state, prep.cadj, 1)
    val plan = next.queryExecution.executedPlan.toString
    assert("Exchange".r.findAllMatchIn(plan).size == 1, plan)
    assert(plan.contains("ShuffledHashJoin"), plan)
    assert(!plan.contains("SortMergeJoin"), plan)
    // and the stripped checkpoint really carries its hash partitioning
    assert(plan.contains("Scan ExistingRDD"), plan)
    // the asserted plan must also be EXECUTABLE: superstep 1 from vertex 0
    // on the 0-1-2-3 cycle newly reaches vertices 1 and 3 (chunk 0 tile
    // slots 1 and 3), with 0 already visited
    val rows = next.collect()
    assert(rows.length == 1, rows.mkString(","))
    val ns = rows.head.getSeq[Long](rows.head.fieldIndex("ns"))
    assert(ns(1) == 1L && ns(3) == 1L && ns(0) == 0L && ns(2) == 0L, ns.take(4))
  }

  test("degree top-k plan is TakeOrderedAndProject, not a global sort") {
    val deg = graft.core.Graph.degrees(
      graft.core.Graph.symmetrize(Tpch.sparseEdges(spark, dir)))
    val plan = deg.orderBy(desc("degree")).limit(20)
      .queryExecution.executedPlan.toString
    assert(plan.contains("TakeOrderedAndProject"), plan)
  }

  test("row-BFS steady-state superstep: messages-only exchange, state side exchange-free") {
    // the loop's claim (MultiBfs scaladoc, round 6): with the state's
    // asserted hash(pivot, id) placement (stripState — the full-outer USING
    // join's coalesced key projection hides the true partitioning from
    // Catalyst), a superstep's only shuffle Exchange is the message
    // aggregate; the accumulated |V|-row state re-enters NO exchange.
    // Exercise the EXACT loop body (MultiBfs.step / stripState) at
    // superstep 2, whose prev state came through superstep 1 the way the
    // loop materializes it.
    val s = spark.newSession()
    s.conf.set("spark.sql.adaptive.enabled", "false")
    s.conf.set("spark.sql.shuffle.partitions", "4")
    // the broadcast regime is part of the claim: the tiny cached adjacency
    // broadcasts into the frontier join, leaving the message aggregate as the
    // only exchange. A non-broadcastable adjacency would add a frontier-side
    // exchange; the state side stays exchange-free either way.
    s.conf.set("spark.sql.autoBroadcastJoinThreshold", (10L << 20).toString)
    import s.implicits._
    val adj = graft.core.Graph.adjacency(graft.core.Graph.symmetrize(
      Seq(0L -> 1L, 1L -> 2L, 2L -> 3L, 3L -> 0L).toDF("src", "dst"))).persist()
    adj.count()
    val init = Seq(0L).toDF("pivot")
      .select(col("pivot"), col("pivot").as("id"),
        lit(0).as("dist"), lit(true).as("isNew"))
      .localCheckpoint(true)
    val mat = new graft.core.LocalMaterializer(window = 0)
    val st1raw = mat.iterateDeferred(graft.algo.MultiBfs.step(init, adj), 1, -1.0)
    val n1 = st1raw.where(col("isNew")).count()
    assert(n1 == 2L) // 4-cycle: superstep 1 from 0 discovers 1 and 3
    val st1 = graft.algo.MultiBfs.stripState(st1raw)
    val next = graft.algo.MultiBfs.step(st1, adj)
    val plan = next.queryExecution.executedPlan.toString
    // count shuffles in the LIVE plan only — everything under
    // InMemoryRelation is the cached adjacency's build lineage, displayed
    // but not re-executed (its exchanges ran once at persist time)
    val live = plan.split("InMemoryRelation").head
    assert("Exchange hashpartitioning".r.findAllMatchIn(live).size == 1, plan)
    assert(live.contains("FullOuter"), plan)
    assert(!live.contains("SortMergeJoin"), plan)
    // the asserted plan must also be EXECUTABLE and RIGHT: superstep 2
    // newly reaches vertex 2 (dist 2); 0/1/3 keep their settled distances
    val got = next.collect()
      .map(r => (r.getLong(1), (r.getInt(2), r.getBoolean(3)))).toMap
    assert(got == Map(
      0L -> ((0, false)), 1L -> ((1, false)), 3L -> ((1, false)),
      2L -> ((2, true))), got)
  }

  test("stripHashPartitioned refuses to assert a partitioning under AQE") {
    val s = spark.newSession()
    s.conf.set("spark.sql.adaptive.enabled", "true")
    import s.implicits._
    val st = Seq((0L, 0L, 0, true)).toDF("pivot", "id", "dist", "isNew")
      .localCheckpoint(true)
    intercept[IllegalStateException](graft.algo.MultiBfs.stripState(st))
    s.conf.set("spark.sql.adaptive.enabled", "false")
    // and with the co-partitioning rule off, which the loop session pins on
    s.conf.set("spark.sql.requireAllClusterKeysForCoPartition", "false")
    intercept[IllegalStateException](graft.algo.MultiBfs.stripState(st))
    s.conf.set("spark.sql.requireAllClusterKeysForCoPartition", "true")
    assert(graft.algo.MultiBfs.stripState(st).collect().length == 1)
  }
}
