package graft.streaming

import graft.ProjectorTestBase
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.types.StructType
import org.apache.spark.sql.{DataFrame, Row}

import java.nio.file.Files

/** Write-amplification bound of [[StateStore.mergeReplace]] (VERDICT r4
  * #1), measured on file-system metrics — the write-side mirror of
  * IncrementalScanSpec's read-side proof: a batch touching 3 keys must
  * WRITE bytes bounded by `touchedBuckets × bucket-size target`, a
  * constant in table size, because the bucket count grows with the table.
  * Without the growth the per-batch write cost is `O(state / buckets)` —
  * at 100× state a 3-key batch on a 2-second trigger would rewrite
  * gigabytes.
  */
class StateStoreScaleSpec extends ProjectorTestBase {

  private val schema = StructType.fromDDL("k STRING, v STRING")

  // md5-hex payloads: deterministic and incompressible enough that parquet
  // sizes track row counts (a constant pad would snappy-compress to noise)
  private def payload(i: Int): String = {
    val md = java.security.MessageDigest.getInstance("MD5")
    md.digest(s"row-$i".getBytes("UTF-8")).map("%02x".format(_)).mkString * 4
  }

  private def rowsDf(ids: Seq[Int]): DataFrame = {
    import scala.jdk.CollectionConverters._
    spark.createDataFrame(ids.map(i => Row(s"key-$i", payload(i))).asJava, schema)
  }

  private def keys(store: StateStore, ids: Seq[Int]): KeySet = {
    import scala.jdk.CollectionConverters._
    KeySet.fromDf(spark.createDataFrame(ids.map(i => Row(s"key-$i")).asJava,
      StructType.fromDDL("k STRING")), store.maxInsetKeys)
  }

  private def filesUnder(dir: java.io.File): Map[String, Long] = {
    def walk(f: java.io.File): Seq[java.io.File] =
      if (f.isDirectory) Option(f.listFiles()).map(_.toSeq.flatMap(walk)).getOrElse(Nil)
      else Seq(f)
    walk(dir).map(f => f.getPath -> f.length()).toMap
  }

  private def contents(store: StateStore): Map[String, String] =
    store.readAll("t", schema).collect().map(r => r.getString(0) -> r.getString(1)).toMap

  test("3-key batch write bytes are bounded by the bucket target, not state size") {
    // same store config, two state sizes 4× apart: the bucket count must
    // absorb the growth so the per-batch write cost stays flat
    val written = Seq(8000, 32000).map { n =>
      val dir = Files.createTempDirectory(s"graft-wamp-$n").toFile
      val store = new StateStore(spark, dir.getPath, maxBucketBytes = 16 * 1024)
      store.writeBucketed("t", "k", rowsDf(1 to n))
      assert(store.bucketCount("t") > 4,
        s"n=$n: seed did not grow the bucket count (still ${store.bucketCount("t")})")

      val totalBytes = filesUnder(dir).values.sum
      val before = filesUnder(dir)
      store.mergeReplace("t", "k", keys(store, Seq(17, n / 2, n - 1)),
        rowsDf(Seq(17, n / 2, n - 1)))
      val batchBytes = filesUnder(dir)
        .collect { case (p, len) if !before.contains(p) => len }.sum

      assert(batchBytes > 0, s"n=$n: expected some write")
      // the VERDICT criterion: far below a fixed fraction of the state
      assert(batchBytes < totalBytes / 4,
        s"n=$n: 3-key batch wrote $batchBytes B of $totalBytes B state")
      (n, totalBytes, batchBytes)
    }
    // the stronger bound: 4× the state must NOT mean ~4× the batch write —
    // both rewrites are touched-buckets × (≤ 2×maxBucketBytes)
    val Seq((_, _, small), (_, _, large)) = written
    assert(large < 2 * small + 16 * 1024,
      s"write bytes grew with state size: $small B at 1×, $large B at 4× — " +
        "bucket growth is not bounding write amplification")
  }

  test("incremental growth: merges trigger a rebucket and contents survive it") {
    val dir = Files.createTempDirectory("graft-grow").toFile
    val store = new StateStore(spark, dir.getPath, maxBucketBytes = 4 * 1024)
    store.writeBucketed("t", "k", rowsDf(1 to 20))
    val c0 = store.bucketCount("t")

    // grow the table through the INCREMENTAL path only
    store.mergeReplace("t", "k", keys(store, 100 to 800), rowsDf(100 to 800))
    assert(store.bucketCount("t") > c0,
      s"rebucket did not trigger (count ${store.bucketCount("t")})")
    val expected = ((1 to 20) ++ (100 to 800)).map(i => s"key-$i" -> payload(i)).toMap
    assert(contents(store) === expected, "contents diverged across the rebucket")

    // post-rebucket merges read/write the NEW layout consistently:
    // delete two keys, rewrite one, add one
    store.mergeReplace("t", "k", keys(store, Seq(1, 100, 250, 999)),
      rowsDf(Seq(250, 999)))
    val expected2 = expected - "key-1" - "key-100" +
      ("key-250" -> payload(250)) + ("key-999" -> payload(999))
    assert(contents(store) === expected2, "post-rebucket merge diverged")
    // and keyed reads prune with the grown count (wrong-count hashing would
    // read the wrong bucket and return nothing)
    val got = store.readKeyed("t", schema, "k", keys(store, Seq(250, 999, 1)))
      .collect().map(_.getString(0)).toSet
    assert(got === Set("key-250", "key-999"))
  }

  test("the frame a rebucketing merge RETURNS spans the post-rebucket layout") {
    // r7 regression guard: mergeReplaceReturning hands back a lazy read of
    // the touched bucket DIRECTORIES. When the same merge triggers a
    // rebucket, the pre-merge bucket ids no longer span the touched keys
    // under the new layout — the returned frame must be recomputed for the
    // new count or downstream finalizers silently lose the keys that now
    // hash elsewhere.
    val dir = Files.createTempDirectory("graft-grow-ret").toFile
    val store = new StateStore(spark, dir.getPath, maxBucketBytes = 4 * 1024)
    store.writeBucketed("t", "k", rowsDf(1 to 20))
    val c0 = store.bucketCount("t")
    val ks = keys(store, 100 to 800)
    val returned = store.mergeReplaceReturning("t", "k", ks, rowsDf(100 to 800))
    assert(store.bucketCount("t") > c0, "rebucket did not trigger")
    val got = returned.get.select("k").collect().map(_.getString(0)).toSet
    val expected = (100 to 800).map(i => s"key-$i").toSet
    assert(expected.subsetOf(got),
      s"returned frame lost ${(expected -- got).size} of the touched keys across the rebucket")
  }

  test("a wholesale write puts a small new table at one bucket in one job; merges read it") {
    // a SMALL table is one file (many near-empty files ⇒ every micro-batch
    // merge pays ~all of them in file opens — per-file fixed cost, not
    // data, dominates the 2-second loop), and it is written exactly once:
    // one Spark job, no read-back and rewrite at another count
    val dir = Files.createTempDirectory("graft-onebucket").toFile
    val store = new StateStore(spark, dir.getPath, maxBucketBytes = 256L << 20)
    val df = rowsDf(1 to 200) // a few hundred KB at most
    val jobs = new java.util.concurrent.atomic.AtomicInteger(0)
    val listener = new SparkListener {
      override def onJobStart(j: SparkListenerJobStart): Unit = { jobs.incrementAndGet(); () }
    }
    spark.sparkContext.addSparkListener(listener)
    try {
      store.writeBucketed("t", "k", df)
      org.apache.spark.GraftListenerBridge.drain(spark.sparkContext)
    } finally spark.sparkContext.removeSparkListener(listener)
    assert(jobs.get === 1, s"the first write of a small table ran ${jobs.get} Spark jobs")
    assert(store.bucketCount("t") === 1,
      s"small table written at ${store.bucketCount("t")} buckets")
    val bucketDirs = Option(new java.io.File(dir, "t").listFiles()).get
      .count(_.getName.startsWith("bucket="))
    assert(bucketDirs === 1, s"expected one bucket dir, found $bucketDirs")

    // merges against the one-bucket layout stay exact (delete, rewrite, insert)
    store.mergeReplace("t", "k", keys(store, Seq(1, 2, 300)), rowsDf(Seq(2, 300)))
    val expected = ((3 to 200).map(i => s"key-$i" -> payload(i)) ++
      Seq("key-2" -> payload(2), "key-300" -> payload(300))).toMap
    assert(contents(store) === expected, "merge on the one-bucket layout diverged")

    // a one-bucket table that later grows large expands through the
    // incremental growth path
    val big = new StateStore(spark, dir.getPath, maxBucketBytes = 4 * 1024)
    big.mergeReplace("t", "k", keys(big, 500 to 900), rowsDf(500 to 900))
    assert(big.bucketCount("t") > 1,
      s"growth from one bucket did not fire (count ${big.bucketCount("t")})")
  }

  test("a bucketed table without its _nbuckets entry fails loudly, naming the table") {
    val dir = Files.createTempDirectory("graft-nolayout").toFile
    val store = new StateStore(spark, dir.getPath, maxBucketBytes = 1024)
    store.writeBucketed("t_nolayout", "k", rowsDf(1 to 50))
    assert(store.bucketCount("t_nolayout") > 1, "test setup: expected a multi-bucket layout")
    // the count its files were hashed with is now unknown
    assert(new java.io.File(dir, "t_nolayout/_nbuckets").delete())
    val reopened = new StateStore(spark, dir.getPath)
    val attempt = scala.util.Try(
      reopened.readKeyed("t_nolayout", schema, "k", keys(reopened, Seq(7, 23))).collect())
    assert(attempt.isFailure, "a table without a layout entry was read under a guessed count")
    val msg = attempt.failed.get.getMessage
    assert(msg.contains("t_nolayout") && msg.contains("_nbuckets"), s"unexpected error: $msg")
  }
}
