package perfbench

import java.io.File
import java.nio.file.{Files, StandardCopyOption}

import scala.jdk.CollectionConverters._

import graft.projector.LogSynth
import graft.streaming.{CatchUp, StateStore}
import org.apache.spark.sql.SparkSession

import Common._

/** The base log and the seeded store both catch-up workloads start from:
  * `CatchUp`'s cold start (`dehydrateIfCold`, i.e. `Incremental.seed`)
  * over the `sites` log of seed `seed`. Seeding a store costs about a
  * minute on a 4-core host whatever the log size (64 buckets per store
  * table), more than a run can afford, so it is built once per program
  * build and each run copies it. The base log's event files are kept:
  * each run replays them with `Backfill.run` (see [[Replay]]). */
object BaseStore {
  val sites = 500
  val seed = 42L
  lazy val log: Log = LogSynth.events(sites, seed)

  def events(base: File): String = s"$base/events"
  def state(base: File): String = s"$base/state"

  def build(spark: SparkSession, dir: File): Unit = {
    LogSynth.write(spark, events(dir), log, 8)
    val t0 = now
    require(CatchUp.dehydrateIfCold(spark, events(dir), new StateStore(spark, state(dir))),
      "the base store was not cold")
    Files.writeString(new File(dir, "seed_s").toPath, secs(t0).toString)
  }

  /** Copy the built store into `to`; returns its seconds-to-seed. */
  def copyTo(base: File, to: File): Double = {
    val src = new File(state(base)).toPath
    Files.walk(src).iterator().asScala.foreach { p =>
      val dst = to.toPath.resolve(src.relativize(p).toString)
      if (Files.isDirectory(p)) Files.createDirectories(dst)
      else Files.copy(p, dst, StandardCopyOption.REPLACE_EXISTING)
    }
    Files.readString(new File(base, "seed_s").toPath).trim.toDouble
  }
}
