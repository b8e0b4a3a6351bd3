package graft

import graft.streaming.CatchUp
import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** One shared local session on the queries profile, reused by every suite
  * in the JVM. */
trait SparkTestBase extends AnyFunSuite {
  lazy val spark: SparkSession = SparkTestBase.queries

  /** The RocksDB state store provider (the session twin's restart case). */
  val RocksDb: (String, String) = "spark.sql.streaming.stateStore.providerClass" ->
    "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider"

  /** Runs `body` with the given session conf entries set, then restores
    * each key's previous value, or unsets it if it had none. */
  def withConf[T](kv: (String, String)*)(body: => T): T = {
    val prev = kv.map { case (k, _) => k -> spark.conf.getOption(k) }
    kv.foreach { case (k, v) => spark.conf.set(k, v) }
    try body
    finally prev.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
  }
}

/** Projector suites (backfill, catch-up, state store, sinks): a session of
  * their own on the production projector profile ([[CatchUp.profile]]:
  * AQE and whole-stage codegen off). It shares the test SparkContext and
  * leaves the default session alone. */
trait ProjectorTestBase extends SparkTestBase {
  override lazy val spark: SparkSession = {
    // the shared context is built from the queries profile's options, so
    // the projector profile never leaks into the default session
    SparkTestBase.queries
    CatchUp.profile(SparkTestBase.local, "4").create()
  }
}

object SparkTestBase {
  private[graft] def local: SparkSession.Builder =
    SparkSession.builder().master("local[4]").appName("graft-test")

  lazy val queries: SparkSession = SparkEntry.profile(local, "4").getOrCreate()
}
