package graft.projector

import graft.ProjectorTestBase
import org.apache.spark.sql.Row
import org.apache.spark.sql.types.StructType

import java.nio.file.Files
import scala.util.Random

/** End-to-end EP1 smoke: envelope parquet in → Backfill.run → 8 parquet
  * tables out, contents matching the simulator. */
class BackfillSpec extends ProjectorTestBase {

  test("Backfill.run derives all 8 tables from an envelope parquet") {
    import scala.jdk.CollectionConverters._
    val events = LogGen.scenario(new Random(31))
    val sim = new Sim.State
    events.foreach(sim.apply)

    val rows = events.zipWithIndex.map { case (e, i) => Row((i + 1).toLong, e.typ, e.payload) }
    val dir = Files.createTempDirectory("graft-backfill").toFile.getPath
    val schema = StructType.fromDDL("seq BIGINT, event_type STRING, payload STRING")
    spark.createDataFrame(rows.asJava, schema).write.parquet(s"$dir/events")

    val highWater = Backfill.run(spark, s"$dir/events", s"$dir/out")
    assert(highWater === events.length.toLong)

    val wt = spark.read.parquet(s"$dir/out/work_task").collect()
      .map(r => (r.getString(0), r.getString(1), r.getString(2))).toSet
    assert(wt === sim.workTasks)
    val slack = spark.read.parquet(s"$dir/out/conduit_slack").collect()
      .map(r => (r.getString(1), r.getInt(2))).toSet
    assert(slack === sim.conduitSlacks)
    Seq("rel_interest_to_route_element", "rel_fiber_cable_to_route_element",
      "node_container", "span_equipment", "service_termination", "installation")
      .foreach { t =>
        assert(new java.io.File(s"$dir/out/$t").isDirectory, s"$t missing")
      }
  }

  test("Backfill.run on an empty event log returns Long.MinValue (no NPE)") {
    import scala.jdk.CollectionConverters._
    val dir = Files.createTempDirectory("graft-backfill-empty").toFile.getPath
    val schema = StructType.fromDDL("seq BIGINT, event_type STRING, payload STRING")
    spark.createDataFrame(List.empty[Row].asJava, schema).write.parquet(s"$dir/events")
    val highWater = Backfill.run(spark, s"$dir/events", s"$dir/out", Some(s"$dir/state"))
    assert(highWater === Long.MinValue)
    val store = new graft.streaming.StateStore(spark, s"$dir/state")
    assert(store.highWater === Long.MinValue)
    assert(graft.streaming.CatchUp.dehydrateIfCold(spark, s"$dir/events", store),
      "an empty seed must leave the store cold")
  }

  test("Backfill.run with stateDir seeds the catch-up store and records the high water") {
    import scala.jdk.CollectionConverters._
    val events = LogGen.scenario(new Random(77))
    val rows = events.zipWithIndex.map { case (e, i) => Row((i + 1).toLong, e.typ, e.payload) }
    val dir = Files.createTempDirectory("graft-backfill-seed").toFile.getPath
    val schema = StructType.fromDDL("seq BIGINT, event_type STRING, payload STRING")
    spark.createDataFrame(rows.asJava, schema).write.parquet(s"$dir/events")

    val highWater = Backfill.run(spark, s"$dir/events", s"$dir/out", Some(s"$dir/state"))
    assert(highWater === rows.length.toLong)

    val store = new graft.streaming.StateStore(spark, s"$dir/state")
    assert(store.highWater === rows.length.toLong)
    // seeded store holds the same 8 tables the parquet output does
    graft.streaming.Incremental.outputKey.keys.foreach { t =>
      val fromStore = store.readAll(t, graft.streaming.Incremental.outputSchema(t))
        .collect().map(_.toSeq.toVector).toSet
      val fromParquet = spark.read.parquet(s"$dir/out/$t")
        .select(graft.streaming.Incremental.outputSchema(t).fieldNames.map(
          org.apache.spark.sql.functions.col).toSeq: _*)
        .collect().map(_.toSeq.toVector).toSet
      assert(fromStore === fromParquet, s"seeded store table $t diverges from parquet output")
    }
    // a second backfill into the now-warm store is refused before it
    // derives or writes anything
    val warm = intercept[IllegalArgumentException](
      Backfill.run(spark, s"$dir/events", s"$dir/out2", Some(s"$dir/state")))
    assert(warm.getMessage.contains(s"$dir/state"), warm.getMessage)
    assert(!new java.io.File(s"$dir/out2").exists())
  }
}
