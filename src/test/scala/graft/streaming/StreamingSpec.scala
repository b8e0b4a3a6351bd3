package graft.streaming

import graft.SparkTestBase
import graft.projector.{Derivations, EventLog, LogGen, Sim}
import org.apache.spark.sql.streaming.Trigger
import org.apache.spark.sql.types.StructType
import org.apache.spark.sql.Row

import java.nio.file.Files
import scala.util.Random

/** Replay-equivalence (SURVEY.md §5.5): streaming catch-up over an event
  * log split into micro-batches must converge to the same final state as
  * the batch backfill — the reference's two-phase lifecycle
  * (`RelationalDatabaseProjection.cs:460-495`).
  *
  * The log is written as two parquet files; a file-source stream with
  * maxFilesPerTrigger=1 delivers them as two micro-batches, so keyed state
  * genuinely persists across batch boundaries.
  */
class StreamingSpec extends SparkTestBase {

  private val envelopeSchema = StructType.fromDDL("seq BIGINT, event_type STRING, payload STRING")

  test("streaming CDC converges to the batch fold (installation, work_task, interests)") { withConf(RocksDb) {
    import scala.jdk.CollectionConverters._
    import spark.implicits._

    val events = LogGen.scenario(new Random(11))
    val rows = events.zipWithIndex.map { case (e, i) => Row((i + 1).toLong, e.typ, e.payload) }
    val (a, b) = rows.splitAt(rows.length / 2)

    val dir = Files.createTempDirectory("graft-stream").toFile
    val inDir = new java.io.File(dir, "in"); inDir.mkdirs()
    // two files → two micro-batches. FileStreamSource orders new files by
    // modification timestamp; two files written within the same mtime
    // granularity could arrive reordered, so pin distinct mtimes explicitly
    // (batch_a strictly older) instead of relying on write-time ordering.
    spark.createDataFrame(a.asJava, envelopeSchema).coalesce(1)
      .write.parquet(inDir.getPath + "/batch_a")
    spark.createDataFrame(b.asJava, envelopeSchema).coalesce(1)
      .write.parquet(inDir.getPath + "/batch_b")
    val now = System.currentTimeMillis()
    def pinMtime(sub: String, t: Long): Unit =
      new java.io.File(inDir, sub).listFiles()
        .filter(_.getName.endsWith(".parquet"))
        .foreach(f => assert(f.setLastModified(t), s"setLastModified failed for $f"))
    pinMtime("batch_a", now - 60000)
    pinMtime("batch_b", now)

    val raw = spark.readStream.schema(envelopeSchema)
      .option("maxFilesPerTrigger", "1")
      .parquet(inDir.getPath + "/*")
    val decoded = Processors.decode(raw)

    val instQ = Processors.installationCdc(Processors.installationEvents(decoded))
      .writeStream.outputMode("append").format("memory").queryName("inst_cdc")
      .trigger(Trigger.AvailableNow()).start()
    val wtQ = Processors.workTaskCdc(Processors.workTaskEvents(decoded))
      .writeStream.outputMode("append").format("memory").queryName("wt_cdc")
      .trigger(Trigger.AvailableNow()).start()
    val woiQ = Processors.interestCdc(Processors.interestEvents(decoded))
      .writeStream.outputMode("append").format("memory").queryName("woi_cdc")
      .trigger(Trigger.AvailableNow()).start()
    instQ.awaitTermination(120000); wtQ.awaitTermination(120000); woiQ.awaitTermination(120000)

    // apply CDC in arrival order per key → final sink state (last wins)
    def lastPerKey(table: String, keyIdx: Int): Map[String, Row] =
      spark.table(table).collect().zipWithIndex
        .groupBy(_._1.getString(keyIdx))
        .view.mapValues(_.maxBy(_._2)._1).toMap

    // batch oracle over the same full log
    val batchRaw = spark.createDataFrame(rows.asJava, envelopeSchema)
    val ev = EventLog.decode(batchRaw).cache()

    // installation
    val instFinal = lastPerKey("inst_cdc", 1).filter(_._2.getString(0) == Cdc.Upsert)
    val instBatch = Derivations.installation(ev).collect()
      .map(r => r.getString(0) -> r).toMap
    assert(instFinal.keySet === instBatch.keySet)
    instBatch.foreach { case (id, br) =>
      val sr = instFinal(id)
      assert(Option(sr.getString(2)) === Option(br.getString(1)), s"installation_id $id")
      assert(Option(sr.getString(3)) === Option(br.getString(2)), s"unit_address_id $id")
      assert(Option(sr.getString(4)) === Option(br.getString(3)), s"status $id")
      assert(Option(sr.getString(5)) === Option(br.getString(4)), s"location_remark $id")
    }

    // work task
    val wtFinal = lastPerKey("wt_cdc", 1).filter(_._2.getString(0) == Cdc.Upsert)
    val wtBatch = Derivations.workTask(ev).collect().map(r => r.getString(0) -> r).toMap
    assert(wtFinal.keySet === wtBatch.keySet)
    wtBatch.foreach { case (id, br) =>
      val sr = wtFinal(id)
      assert(Option(sr.getString(2)) === Option(br.getString(1)), s"number $id")
      assert(Option(sr.getString(3)) === Option(br.getString(2)), s"status $id")
    }

    // interests: surviving upserts must equal the batch interest state
    val woiRows = lastPerKey("woi_cdc", 1)
    val woiFinal = woiRows.filter(_._2.getString(0) == Cdc.Upsert)
      .map { case (id, r) => id -> r.getSeq[String](2) }
    val woiBatch = Derivations.interestState(ev).filter($"alive")
      .collect().map(r => r.getString(0) -> r.getSeq[String](1)).toMap
    assert(woiFinal === woiBatch)

    instQ.stop(); wtQ.stop(); woiQ.stop()
  } }

  test("backfill-seeded processors stream only the tail and converge to the full batch fold") { withConf(RocksDb) {
    import scala.jdk.CollectionConverters._
    import spark.implicits._

    val events = LogGen.scenario(new Random(23))
    val rows = events.zipWithIndex.map { case (e, i) => Row((i + 1).toLong, e.typ, e.payload) }
    val k = rows.length / 2
    val (prefix, tail) = rows.splitAt(k)

    // backfill phase: batch-fold the prefix, derive the processor seeds
    // from the OUTPUT tables (what a production handoff has on hand)
    val evPrefix = EventLog.decode(
      spark.createDataFrame(prefix.asJava, envelopeSchema)).cache()
    val instInit = Processors.installationInitial(Derivations.installation(evPrefix))
    val wtInit = Processors.workTaskInitial(Derivations.workTask(evPrefix))
    val woiInit = Processors.interestInitial(Derivations.interestState(evPrefix))

    // catch-up phase: ONLY the tail is streamed
    val dir = Files.createTempDirectory("graft-seeded").toFile
    val inDir = new java.io.File(dir, "in"); inDir.mkdirs()
    spark.createDataFrame(tail.asJava, envelopeSchema).coalesce(1)
      .write.parquet(inDir.getPath + "/tail")
    val raw = spark.readStream.schema(envelopeSchema).parquet(inDir.getPath + "/*")
    val decoded = Processors.decode(raw)
    val instQ = Processors.installationCdcSeeded(Processors.installationEvents(decoded), instInit)
      .writeStream.outputMode("append").format("memory").queryName("inst_cdc_seeded")
      .trigger(Trigger.AvailableNow()).start()
    val wtQ = Processors.workTaskCdcSeeded(Processors.workTaskEvents(decoded), wtInit)
      .writeStream.outputMode("append").format("memory").queryName("wt_cdc_seeded")
      .trigger(Trigger.AvailableNow()).start()
    val woiQ = Processors.interestCdcSeeded(Processors.interestEvents(decoded), woiInit)
      .writeStream.outputMode("append").format("memory").queryName("woi_cdc_seeded")
      .trigger(Trigger.AvailableNow()).start()
    instQ.awaitTermination(120000); wtQ.awaitTermination(120000); woiQ.awaitTermination(120000)

    // final sink state = backfill tables + CDC applied in arrival order
    def lastPerKey(table: String, keyIdx: Int): Map[String, Row] =
      spark.table(table).collect().zipWithIndex
        .groupBy(_._1.getString(keyIdx))
        .view.mapValues(_.maxBy(_._2)._1).toMap

    val evFull = EventLog.decode(
      spark.createDataFrame(rows.asJava, envelopeSchema)).cache()

    // installation: seed rows overwritten by upserts
    val instFinal = Derivations.installation(evPrefix).collect()
      .map(r => r.getString(0) -> (Option(r.getString(1)), Option(r.getString(2)),
        Option(r.getString(3)), Option(r.getString(4)))).toMap ++
      lastPerKey("inst_cdc_seeded", 1).view.mapValues(r =>
        (Option(r.getString(2)), Option(r.getString(3)), Option(r.getString(4)),
          Option(r.getString(5)))).toMap
    val instBatch = Derivations.installation(evFull).collect()
      .map(r => r.getString(0) -> (Option(r.getString(1)), Option(r.getString(2)),
        Option(r.getString(3)), Option(r.getString(4)))).toMap
    assert(instFinal === instBatch, "installation diverged after seeded tail catch-up")

    // work task
    val wtFinal = Derivations.workTask(evPrefix).collect()
      .map(r => r.getString(0) -> (Option(r.getString(1)), Option(r.getString(2)))).toMap ++
      lastPerKey("wt_cdc_seeded", 1).view.mapValues(r =>
        (Option(r.getString(2)), Option(r.getString(3)))).toMap
    val wtBatch = Derivations.workTask(evFull).collect()
      .map(r => r.getString(0) -> (Option(r.getString(1)), Option(r.getString(2)))).toMap
    assert(wtFinal === wtBatch, "work_task diverged after seeded tail catch-up")

    // interests: seed ∪ upserts minus deletes
    val woiSeed = Derivations.interestState(evPrefix).filter($"alive").collect()
      .map(r => r.getString(0) -> r.getSeq[String](1)).toMap
    val woiCdc = lastPerKey("woi_cdc_seeded", 1)
    val woiFinal = (woiSeed ++ woiCdc.filter(_._2.getString(0) == Cdc.Upsert)
        .view.mapValues(_.getSeq[String](2)).toMap) --
      woiCdc.filter(_._2.getString(0) == Cdc.Delete).keys
    val woiBatch = Derivations.interestState(evFull).filter($"alive").collect()
      .map(r => r.getString(0) -> r.getSeq[String](1)).toMap
    assert(woiFinal === woiBatch, "interests diverged after seeded tail catch-up")

    instQ.stop(); wtQ.stop(); woiQ.stop()
  } }
}
