package graft.streaming

import graft.ProjectorTestBase
import org.apache.spark.sql.types.StructType
import org.apache.spark.sql.{DataFrame, Row}

import java.nio.file.Files

/** Write-amplification bound of [[StateStore.mergeReplace]] (VERDICT r4
  * #1), measured on file-system metrics — the write-side mirror of
  * IncrementalScanSpec's read-side proof: a batch touching 3 keys must
  * WRITE bytes bounded by `touchedBuckets × bucket-size target`, a
  * constant in table size, because the bucket count grows with the table.
  * Without the growth the per-batch write cost is `O(state / nBuckets)` —
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
      val store = new StateStore(spark, dir.getPath, nBuckets = 4,
        maxBucketBytes = 16 * 1024)
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
    val store = new StateStore(spark, dir.getPath, nBuckets = 2,
      maxBucketBytes = 4 * 1024)
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
    val store = new StateStore(spark, dir.getPath, nBuckets = 2,
      maxBucketBytes = 4 * 1024)
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

  test("wholesale writes shrink an oversized layout; merges read the new count") {
    // the r6 mirror of the growth bound: a SMALL table must not keep the
    // constructor's 64-bucket floor (64 near-empty files ⇒ every micro-
    // batch merge pays ~all of them in file opens — per-file fixed cost,
    // not data, dominates the 2-second loop)
    val dir = Files.createTempDirectory("graft-shrink").toFile
    val store = new StateStore(spark, dir.getPath, nBuckets = 64,
      maxBucketBytes = 256L << 20)
    store.writeBucketed("t", "k", rowsDf(1 to 200)) // a few hundred KB at most
    assert(store.bucketCount("t") === 1,
      s"small table kept ${store.bucketCount("t")} buckets — shrink did not fire")
    val bucketDirs = Option(new java.io.File(dir, "t").listFiles()).get
      .count(_.getName.startsWith("bucket="))
    assert(bucketDirs === 1, s"expected one bucket dir, found $bucketDirs")

    // merges against the shrunk layout stay exact (delete, rewrite, insert)
    store.mergeReplace("t", "k", keys(store, Seq(1, 2, 300)), rowsDf(Seq(2, 300)))
    val expected = ((3 to 200).map(i => s"key-$i" -> payload(i)) ++
      Seq("key-2" -> payload(2), "key-300" -> payload(300))).toMap
    assert(contents(store) === expected, "merge on the shrunk layout diverged")

    // a shrunk table that later grows large re-expands through the
    // incremental growth path — count proportional to size both ways
    val big = new StateStore(spark, dir.getPath, nBuckets = 64,
      maxBucketBytes = 4 * 1024)
    big.mergeReplace("t", "k", keys(big, 500 to 900), rowsDf(500 to 900))
    assert(big.bucketCount("t") > 1,
      s"regrowth after shrink did not fire (count ${big.bucketCount("t")})")
  }

  test("a store reopened on an old layout keeps the constructor bucket count") {
    val dir = Files.createTempDirectory("graft-compat").toFile
    val store = new StateStore(spark, dir.getPath, nBuckets = 8,
      maxBucketBytes = Long.MaxValue / 4)
    store.writeBucketed("t", "k", rowsDf(1 to 50))
    // simulate a pre-layout-file store (round-4 format)
    assert(new java.io.File(dir, "t/_nbuckets").delete())
    val reopened = new StateStore(spark, dir.getPath, nBuckets = 8)
    assert(reopened.bucketCount("t") === 8)
    val got = reopened.readKeyed("t", schema, "k", keys(reopened, Seq(7, 23)))
      .collect().map(_.getString(0)).toSet
    assert(got === Set("key-7", "key-23"))
  }
}
