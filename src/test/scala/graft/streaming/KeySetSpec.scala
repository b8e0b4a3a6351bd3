package graft.streaming

import graft.ProjectorTestBase
import org.apache.spark.sql.Row
import org.apache.spark.sql.functions.{col, lit}
import org.apache.spark.sql.types.{LongType, StringType, StructField, StructType}

import java.nio.file.Files
import scala.util.Random

/** Pins the two properties the r6 step-latency rework rests on:
  *
  *   1. [[StateStore.bucketOfValue]] (driver-JVM xxhash64) computes the
  *      SAME bucket id as the column expression the store's files were
  *      written with — for the string/long/boolean key shapes the engine
  *      uses. A divergence would silently read the wrong buckets and lose
  *      rows.
  *   2. [[KeySet]] stays driver-resident under the cap, spills to a
  *      distributed frame above it, and unions without losing keys.
  */
class KeySetSpec extends ProjectorTestBase {

  test("driver-side bucket ids match the column expression for engine key shapes") {
    val dir = Files.createTempDirectory("graft-keyset").toFile.getPath
    // a tiny bucket budget grows "t" past one bucket (at one, every key
    // lands in bucket 0 and the parity check is vacuous)
    val store = new StateStore(spark, dir, maxBucketBytes = 512)
    store.writeBucketed("t", "k", spark.range(200).selectExpr("cast(id as string) as k"))
    assert(store.bucketCount("t") > 1, s"test setup: t has ${store.bucketCount("t")} bucket")
    val rnd = new Random(11)
    val strings: Seq[Any] = (1 to 50).map(_ => rnd.alphanumeric.take(1 + rnd.nextInt(24)).mkString) ++
      Seq("", "Ø12-æøå", "rn-0-1", "a b c", "0001")
    val longs: Seq[Any] = (1 to 20).map(_ => rnd.nextLong()) :+ 0L :+ -1L
    val bools: Seq[Any] = Seq(true, false)
    (strings ++ longs ++ bools).foreach { v =>
      val viaCol = spark.range(1)
        .select(store.bucketOf("t", lit(v)).as("b")).head().getInt(0)
      assert(store.bucketOfValue("t", v) === viaCol, s"bucket mismatch for value $v")
    }
  }

  test("KeySet: local under the cap, distributed above, lossless unions") {
    def df(vals: Seq[String]) = {
      import scala.jdk.CollectionConverters._
      spark.createDataFrame(vals.map(Row(_)).asJava,
        StructType(Seq(StructField("k", StringType))))
    }
    val small = KeySet.fromDf(df(Seq("a", "b", "b", "a", "c")), cap = 10)
    small match {
      case LocalKeys(vals, dt) =>
        assert(vals.toSet === Set("a", "b", "c")); assert(dt === StringType)
      case other => fail(s"expected LocalKeys, got $other")
    }
    assert(!small.knownEmpty)
    assert(KeySet.fromDf(df(Seq.empty), cap = 10).knownEmpty)

    val big = KeySet.fromDf(df((1 to 30).map(i => s"k$i")), cap = 10)
    assert(big.isInstanceOf[DistKeys], "above-cap set must stay distributed")
    assert(!big.knownEmpty)
    assert(big.toDf(spark, "k").collect().map(_.getString(0)).toSet ===
      (1 to 30).map(i => s"k$i").toSet)

    // local ∪ local under cap stays local; over cap spills without loss
    val u1 = KeySet.union(KeySet.local(Array[Any]("a", "b")),
      KeySet.local(Array[Any]("b", "c")), cap = 10, spark)
    assert(u1.asInstanceOf[LocalKeys].vals.toSet === Set("a", "b", "c"))
    val u2 = KeySet.union(
      KeySet.local((1 to 8).map(i => s"x$i").toArray[Any]),
      KeySet.local((5 to 14).map(i => s"x$i").toArray[Any]), cap = 10, spark)
    assert(u2.isInstanceOf[DistKeys])
    assert(u2.toDf(spark, "k").collect().map(_.getString(0)).toSet ===
      (1 to 14).map(i => s"x$i").toSet)
    // dist ∪ local keeps every key
    val u3 = KeySet.union(big, KeySet.local(Array[Any]("extra")), cap = 10, spark)
    assert(u3.toDf(spark, "k").collect().length === 31)
  }

  test("readKeyed and mergeReplace agree across local and distributed key sets") {
    val dir = Files.createTempDirectory("graft-keyset-rw").toFile.getPath
    val store = new StateStore(spark, dir)
    val schema = StructType(Seq(StructField("k", StringType), StructField("v", LongType)))
    import scala.jdk.CollectionConverters._
    def rows(kv: Seq[(String, Long)]) =
      spark.createDataFrame(kv.map { case (k, v) => Row(k, v) }.asJava, schema)
    store.writeBucketed("t", "k", rows((1 to 40).map(i => s"k$i" -> i.toLong)))

    val wanted = Seq("k3", "k17", "k40", "missing")
    val viaLocal = store.readKeyed("t", schema, "k", KeySet.local(wanted.toArray[Any]))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toSet
    val viaDist = store.readKeyed("t", schema, "k",
      DistKeys(rows(wanted.map(_ -> 0L)).select(col("k"))))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toSet
    assert(viaLocal === Set("k3" -> 3L, "k17" -> 17L, "k40" -> 40L))
    assert(viaDist === viaLocal)

    // merge over a local key set: only the touched keys change
    store.mergeReplace("t", "k", KeySet.local(Array[Any]("k3", "k17")),
      rows(Seq("k3" -> 300L, "k17" -> 1700L)))
    val all = store.readAll("t", schema).collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(all("k3") === 300L && all("k17") === 1700L && all("k5") === 5L)
    assert(all.size === 40)
  }
}
