package graft.streaming

import graft.SparkTestBase
import graft.projector.{Derivations, EventLog, LogGen}
import org.apache.spark.sql.Row
import org.apache.spark.sql.streaming.Trigger
import org.apache.spark.sql.types.StructType

import java.nio.file.Files
import scala.util.Random

/** The documented architectural split (Processors.scala:27-30), pinned by
  * an equivalence check instead of prose (VERDICT r5 #8): the
  * self-contained families may flow through EITHER engine path — the
  * `transformWithState` processors or the catch-up `Incremental.step` —
  * and both must land the same final rows as the one-shot batch fold; the
  * span-equipment family (cross-key lookups) flows through the step only,
  * where the same batch fold pins it. One log, both paths, three-way
  * equality on the shared family; batch equality on the span tables.
  */
class ProcessorParitySpec extends SparkTestBase {

  private val envelopeSchema = StructType.fromDDL("seq BIGINT, event_type STRING, payload STRING")

  test("shared families agree across processors, incremental step, and batch fold") { withConf(RocksDb) {
    import scala.jdk.CollectionConverters._

    val events = LogGen.scenario(new Random(87))
    val rows = events.zipWithIndex.map { case (e, i) => Row((i + 1).toLong, e.typ, e.payload) }
    def toDf(rs: Seq[Row]) = spark.createDataFrame(rs.asJava, envelopeSchema)

    // path A — catch-up step over three chunks into a bucketed store
    val stateDir = Files.createTempDirectory("graft-parity").toFile.getPath
    val store = new StateStore(spark, stateDir)
    val third = rows.length / 3
    Seq(rows.slice(0, third), rows.slice(third, 2 * third), rows.slice(2 * third, rows.length))
      .zipWithIndex.foreach { case (chunk, i) =>
        Incremental.step(store, EventLog.decode(toDf(chunk)), batchId = i.toLong)
      }

    // path B — the installation processor over the same log as a stream
    val inDir = new java.io.File(Files.createTempDirectory("graft-parity-in").toFile, "in")
    inDir.mkdirs()
    toDf(rows).coalesce(1).write.parquet(inDir.getPath + "/all")
    val raw = spark.readStream.schema(envelopeSchema).parquet(inDir.getPath + "/*")
    val q = Processors.installationCdc(
        Processors.installationEvents(Processors.decode(raw)))
      .writeStream.outputMode("append").format("memory").queryName("parity_inst")
      .trigger(Trigger.AvailableNow()).start()
    q.awaitTermination(120000)
    q.stop()

    type InstRow = (Option[String], Option[String], Option[String], Option[String])
    def opt(r: Row, i: Int): Option[String] = Option(r.getString(i))

    // batch oracle
    val ev = EventLog.decode(toDf(rows)).cache()
    val batch: Map[String, InstRow] = Derivations.installation(ev).collect()
      .map(r => r.getString(0) -> ((opt(r, 1), opt(r, 2), opt(r, 3), opt(r, 4)))).toMap

    // step result
    val viaStep: Map[String, InstRow] = store
      .readAll("installation", Incremental.outputSchema("installation")).collect()
      .map(r => r.getString(0) -> ((opt(r, 1), opt(r, 2), opt(r, 3), opt(r, 4)))).toMap

    // processor result (CDC applied in arrival order, upsert survivors)
    val viaProc: Map[String, InstRow] = spark.table("parity_inst").collect().zipWithIndex
      .groupBy(_._1.getString(1))
      .view.mapValues(_.maxBy(_._2)._1).toMap
      .filter(_._2.getString(0) == Cdc.Upsert)
      .map { case (id, r) => id -> ((opt(r, 2), opt(r, 3), opt(r, 4), opt(r, 5))) }
      .toMap

    assert(viaStep === batch, "incremental step diverged from the batch fold")
    assert(viaProc === batch, "processor path diverged from the batch fold")

    // span family: step-only by design — batch equality pins it on the
    // same run (cross-key lookups are why it has no processor)
    def normalized(df: org.apache.spark.sql.DataFrame): Set[String] =
      df.collect().map(r => df.columns.sorted.map(c => s"$c=${r.getAs[Any](c)}").mkString("|")).toSet
    Seq("span_equipment", "conduit_slack", "rel_fiber_cable_to_route_element").foreach { t =>
      val got = store.readAll(t, Incremental.outputSchema(t))
      val want = Derivations.deriveAll(ev)(t)
      assert(normalized(got) === normalized(want), s"span-family table $t diverged")
    }
  } }
}
