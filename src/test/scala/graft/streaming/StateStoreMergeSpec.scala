package graft.streaming

import graft.ProjectorTestBase
import org.apache.spark.sql.types.StructType
import org.apache.spark.sql.{DataFrame, Row}

import java.nio.file.Files
import scala.util.Random

/** Direct convergence properties of [[StateStore.mergeReplace]] — the
  * primitive the exactly-once claim rests on (`Incremental` object doc):
  * delete+reinsert of the touched keys must be (a) exact against a
  * set-theoretic oracle, (b) idempotent under full replay, and (c) robust
  * to the crash remnant its two-phase commit can leave behind (dynamic
  * overwrite done, emptied-bucket cleanup not yet — stale files for
  * deleted keys still on disk when the merge re-runs).
  */
class StateStoreMergeSpec extends ProjectorTestBase {

  private val schema = StructType.fromDDL("k STRING, v INT")

  private def toDf(rows: Seq[(String, Int)]): DataFrame = {
    import scala.jdk.CollectionConverters._
    spark.createDataFrame(rows.map { case (k, v) => Row(k, v) }.asJava, schema)
  }

  private def keys(store: StateStore, ids: Seq[String]): KeySet = {
    import scala.jdk.CollectionConverters._
    KeySet.fromDf(spark.createDataFrame(ids.map(Row(_)).asJava, StructType.fromDDL("k STRING")),
      store.maxInsetKeys)
  }

  private def contents(store: StateStore): Set[(String, Int)] =
    store.readAll("t", schema).collect().map(r => (r.getString(0), r.getInt(1))).toSet

  test("mergeReplace converges: oracle-exact, replay-idempotent, crash-remnant-proof") {
    val rnd = new Random(7)
    (1 to 6).foreach { iter =>
      val dir = Files.createTempDirectory(s"graft-merge-$iter").toFile.getPath
      val store = new StateStore(spark, dir)

      val allKeys = (0 until 30).map(i => s"k$i")
      val initial = allKeys.filter(_ => rnd.nextBoolean()).map(k => k -> rnd.nextInt(100))
      store.writeBucketed("t", "k", toDf(initial))

      // touched: some existing (deleted or rewritten) + some brand-new keys
      val touched = rnd.shuffle(allKeys).take(1 + rnd.nextInt(12)) ++
        Seq(s"new-$iter-a", s"new-$iter-b")
      val replacement = touched.filter(_ => rnd.nextBoolean()).map(k => k -> rnd.nextInt(100))
      val expected =
        initial.filterNot { case (k, _) => touched.contains(k) }.toSet ++ replacement.toSet

      store.mergeReplace("t", "k", keys(store, touched), toDf(replacement))
      assert(contents(store) === expected, s"iter $iter: merge diverged from oracle")

      // full replay of the identical merge
      store.mergeReplace("t", "k", keys(store, touched), toDf(replacement))
      assert(contents(store) === expected, s"iter $iter: replay not idempotent")

      // crash remnant: a deleted key's stale row resurfaces in its bucket
      // (dynamic overwrite committed, emptied-bucket cleanup crashed)
      val deleted = touched.filterNot(k => replacement.exists(_._1 == k))
        .filter(k => initial.exists(_._1 == k))
      deleted.headOption.foreach { staleKey =>
        val b = store.bucketOf("t", org.apache.spark.sql.functions.lit(staleKey))
        val bucket = toDf(Seq(staleKey -> -1)).select(org.apache.spark.sql.functions.col("k"), b.as("bucket"))
          .collect().head.getInt(1)
        toDf(Seq(staleKey -> -1)).write.mode("append").parquet(s"$dir/t/bucket=$bucket")
        assert(contents(store) !== expected, s"iter $iter: remnant injection had no effect")
        store.mergeReplace("t", "k", keys(store, touched), toDf(replacement))
        assert(contents(store) === expected, s"iter $iter: crash remnant survived re-merge")
      }
    }
  }

  test("bucket aside from a crashed swap is recovered, not lost (ADVICE r7 medium)") {
    import org.apache.hadoop.fs.Path
    val dir = Files.createTempDirectory("graft-aside").toFile.getPath
    val store = new StateStore(spark, dir)
    val rows = (0 until 24).map(i => s"k$i" -> i)
    store.writeBucketed("t", "k", toDf(rows))
    val fs = new Path(dir).getFileSystem(spark.sparkContext.hadoopConfiguration)
    val someBucket = fs.listStatus(new Path(s"$dir/t"))
      .map(_.getPath.getName).find(_.startsWith("bucket=")).get
    // crash point: live moved aside, staged dir never promoted — the
    // pre-r8 delete-then-rename would have lost these rows permanently
    assert(fs.rename(new Path(s"$dir/t/$someBucket"),
      new Path(s"$dir/t/.old_$someBucket")))
    val store2 = new StateStore(spark, dir) // fresh process
    assert(contents(store2) === rows.toSet,
      "rows of the crashed bucket swap were not recovered from the aside")
    assert(!fs.exists(new Path(s"$dir/t/.old_$someBucket")), "aside not cleaned up")
    // crash point: promote completed, aside cleanup crashed — the aside is
    // pre-merge garbage and must be DISCARDED (live wins), not restored
    toDf(Seq("zz-stale" -> -99)).write.mode("overwrite")
      .parquet(s"$dir/t/.old_$someBucket")
    val store3 = new StateStore(spark, dir)
    assert(contents(store3) === rows.toSet, "completed-swap aside leaked into reads")
    assert(!fs.exists(new Path(s"$dir/t/.old_$someBucket")), "garbage aside not dropped")
    ()
  }

  test("readKeyedSnap serves a covered second key set from the pin and fails loudly on an uncovered one") {
    val dir = Files.createTempDirectory("graft-snappin").toFile.getPath
    // small bucket budget: the 400-row table spans several buckets, so a
    // key set can fall outside the first call's pin
    val store = new StateStore(spark, dir, maxBucketBytes = 1024)
    val rows = (0 until 400).map(i => s"k$i" -> i)
    store.writeBucketed("t", "k", toDf(rows))
    val n = store.bucketCount("t")
    assert(n >= 2, s"test setup: expected a multi-bucket layout, got $n")
    def bucket(k: String) = store.bucketOfValue("t", k)
    // first call pins k0's bucket only
    val got1 = store.readKeyedSnap(5L, "t", schema, "k", keys(store, Seq("k0")))
      .collect().map(_.getString(0)).toSet
    assert(got1 === Set("k0"))
    // the batch's merge then rewrites every key of that bucket
    val sameBucket = rows.map(_._1).filter(k => bucket(k) == bucket("k0"))
    assert(sameBucket.size >= 2, "test setup: k0's bucket holds a single key")
    store.mergeReplace("t", "k", keys(store, sameBucket), toDf(sameBucket.map(_ -> -1)))
    // a second key set inside the pin reads the pinned pre-merge rows
    val got2 = store.readKeyedSnap(5L, "t", schema, "k", keys(store, sameBucket))
      .collect().map(r => (r.getString(0), r.getInt(1))).toSet
    assert(got2 === rows.filter(r => sameBucket.contains(r._1)).toSet,
      "a covered read did not come from the pre-merge pin")
    // a key set reaching an unpinned bucket fails, naming table and bucket
    val outside = rows.map(_._1).find(k => bucket(k) != bucket("k0")).get
    val attempt = scala.util.Try {
      store.readKeyedSnap(5L, "t", schema, "k", keys(store, Seq("k0", outside))).collect()
    }
    assert(attempt.isFailure, "an uncovered key set was served")
    val msg = attempt.failed.get.getMessage
    assert(msg.contains("not pinned") && msg.contains(" t ") &&
      msg.contains(s"buckets ${bucket(outside)} "), s"unexpected error: $msg")
  }

  test("snapshot replay stays pre-merge-faithful across a mid-batch rebucket") {
    val dir = Files.createTempDirectory("graft-snapreb").toFile.getPath
    val fs = new org.apache.hadoop.fs.Path(dir)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    def liveBucketCount(): Int = fs.listStatus(new org.apache.hadoop.fs.Path(s"$dir/t"))
      .map(_.getPath.getName).count(_.startsWith("bucket="))
    // small bucket budget so the 400-row table lands on a MULTI-bucket
    // layout (a 1-bucket layout would make every later key set a subset
    // of the first copy and the guard untestable)
    val store = new StateStore(spark, dir, maxBucketBytes = 1024)
    val rows = (0 until 400).map(i => s"k$i" -> i)
    store.writeBucketed("t", "k", toDf(rows))
    val n0 = liveBucketCount()
    assert(n0 >= 2, s"test setup: expected a multi-bucket layout, got $n0")
    // first run: the pre-merge snapshot pins k0's bucket under count n0
    val got1 = store.readKeyedSnap(9L, "t", schema, "k", keys(store, Seq("k0")))
      .collect().map(r => (r.getString(0), r.getInt(1))).toSet
    assert(got1 === Set("k0" -> 0))
    // ... then the batch's own merge rewrites k0 AND triggers a REBUCKET
    // (tinier bucket budget + enough new rows), and the process crashes
    // before the batch commits
    val grower = new StateStore(spark, dir, maxBucketBytes = 256)
    val newKeys = (0 until 300).map(i => s"grow$i")
    grower.mergeReplace("t", "k", keys(grower, "k0" +: newKeys),
      toDf(("k0" -> 999) +: newKeys.map(_ -> -1)))
    val liveBuckets = liveBucketCount()
    assert(liveBuckets > n0, s"merge did not rebucket ($n0 -> $liveBuckets)")
    // replay happens in a FRESH process (its store reads _nbuckets from
    // disk — the new count): buckets are computed under the pin's count,
    // so the view stays pre-merge (one row, the original value — not the
    // merged 999). Ids computed under the new live count would read
    // post-merge dirs: k0 would come back doubled (0 AND 999).
    val replayStore = new StateStore(spark, dir)
    val replayRows = replayStore.readKeyedSnap(9L, "t", schema, "k", keys(replayStore, Seq("k0")))
      .collect().map(r => (r.getString(0), r.getInt(1))).toSet
    assert(replayRows === Set("k0" -> 0),
      s"snapshot replay not pre-merge-faithful after rebucket: $replayRows")
    // a genuinely NEW key set after the rebucket cannot be served
    // faithfully (pre-merge rows for its buckets are gone) — the store
    // must fail loudly instead of copying wrong-layout post-merge rows
    val pinBytes = {
      val mp = new org.apache.hadoop.fs.Path(s"$dir/_snap/batch=9/t/_pin")
      val in = fs.open(mp)
      try { val b = new Array[Byte](fs.getFileStatus(mp).getLen.toInt); in.readFully(b); new String(b, "UTF-8") }
      finally in.close()
    }
    assert(pinBytes.startsWith(s"n=$n0,"), s"pin not recorded under count $n0: $pinBytes")
    val attempt = scala.util.Try {
      replayStore.readKeyedSnap(9L, "t", schema, "k", keys(replayStore, rows.map(_._1)))
        .collect().map(_.getString(0)).toSet
    }
    assert(attempt.isFailure,
      s"no error thrown; pin=$pinBytes live=$liveBuckets got=${attempt}")
    assert(attempt.failed.get.getMessage.contains("not pinned"),
      s"unexpected error: ${attempt.failed.get.getMessage}")
  }

  test("a store written under another codec merges and reads unchanged (lz4 migration)") {
    // parquet files are self-describing, so a pre-round-12 store (snappy)
    // keeps working after the writers switched to lz4 — merged buckets
    // come out lz4, untouched buckets stay snappy, reads see one table.
    // A 64-byte budget spreads the 24 rows over several buckets, so the
    // merge leaves some untouched and the read spans both codecs.
    import org.apache.hadoop.fs.{FileSystem, Path}
    val dir = Files.createTempDirectory("graft-codec").toFile.getPath
    val initial = (0 until 24).map(i => s"k$i" -> i)
    new StateStore(spark, dir, maxBucketBytes = 64).writeBucketed("t", "k", toDf(initial))
    // the lz4-era program reopens the store at the default budget: at 64
    // bytes every merged bucket would pass the growth trigger and the
    // re-layout would rewrite the untouched buckets too
    val store = new StateStore(spark, dir)
    val n = store.bucketCount("t")
    assert(n > 1, s"t is one bucket: the merge cannot leave a bucket untouched")
    val fs = FileSystem.get(spark.sparkContext.hadoopConfiguration)
    def bucketDir(b: Int) = new Path(s"$dir/t/bucket=$b")
    // compression codecs named in the footers of a bucket's parquet files
    def codecs(b: Int): Set[String] = {
      import scala.jdk.CollectionConverters._
      fs.listStatus(bucketDir(b)).map(_.getPath).filter(_.getName.endsWith(".parquet"))
        .flatMap { f =>
          val r = org.apache.parquet.hadoop.ParquetFileReader.open(
            org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(f, fs.getConf))
          try r.getFooter.getBlocks.asScala.flatMap(_.getColumns.asScala.map(_.getCodec.name))
          finally r.close()
        }.toSet
    }
    // rewrite every bucket's files with snappy IN PLACE (simulating the
    // old store), preserving the layout and the bucket hashing
    (0 until n).foreach { b =>
      val p = bucketDir(b).toString
      if (fs.exists(bucketDir(b))) {
        val rows = spark.read.schema(schema).parquet(p)
          .collect().map(r => (r.getString(0), r.getInt(1)))
        val tmp = s"$dir/.codec_tmp"
        toDf(rows.toSeq).coalesce(1).write.mode("overwrite")
          .option("compression", "snappy").parquet(tmp)
        fs.delete(bucketDir(b), true)
        assert(fs.rename(new Path(tmp), bucketDir(b)))
      }
    }
    assert(contents(store) === initial.toSet, "snappy rewrite changed contents")
    // an lz4-era merge over the snappy store: delete k0/k1, rewrite k2, add new
    val touchedKeys = Seq("k0", "k1", "k2", "knew")
    val touched = touchedKeys.map(store.bucketOfValue("t", _)).toSet
    val untouched = (0 until n).filter(b => !touched(b) && fs.exists(bucketDir(b)))
    assert(untouched.nonEmpty, s"every non-empty bucket of $n is touched by $touched")
    store.mergeReplace("t", "k", keys(store, touchedKeys),
      toDf(Seq("k2" -> 999, "knew" -> 1000)))
    assert(store.bucketCount("t") === n, "the merge re-laid the table out")
    untouched.foreach { b =>
      assert(codecs(b) === Set("SNAPPY"), s"untouched bucket $b was rewritten")
    }
    val merged = codecs(store.bucketOfValue("t", "knew"))
    assert(merged.nonEmpty && merged.forall(_.startsWith("LZ4")), s"merged bucket holds $merged")
    val expected = initial.toSet -- Set("k0" -> 0, "k1" -> 1, "k2" -> 2) ++
      Set("k2" -> 999, "knew" -> 1000)
    assert(contents(store) === expected, "mixed-codec merge diverged")
  }
}
