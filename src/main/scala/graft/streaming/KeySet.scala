package graft.streaming

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions.{broadcast, col}
import org.apache.spark.sql.types.{DataType, StringType, StructField, StructType}

/** A batch-bounded set of touched keys, driver-resident when small.
  *
  * The incremental step's latency is jobs × planning, not data volume: a
  * 2-second micro-batch touches a few hundred keys, yet representing that
  * set as a DataFrame costs a Spark JOB every time the step needs to know
  * anything about it (the key list for an IN-set filter, the bucket ids to
  * prune, whether the set is empty, a localCheckpoint so three consumers
  * don't recompute it). Collecting the set ONCE — bounded by
  * [[StateStore.maxInsetKeys]], the same cap that already gates the IN-set
  * pushdown — makes every one of those questions free driver-side work:
  * bucket ids come from the same xxhash64 Spark would compute
  * ([[StateStore.bucketOfValue]]), emptiness is `vals.isEmpty`, and unions
  * of key sets are array concats instead of unionByName+distinct jobs.
  *
  * Above the cap the set stays distributed ([[DistKeys]]) and every
  * consumer falls back to the broadcast-join path — the 100 TB shape
  * (a backfill-sized batch can touch millions of keys; those never land
  * on the driver). `knownEmpty` is conservatively false there.
  */
sealed trait KeySet {
  /** Exact for driver-resident sets; false (unknown) for distributed. */
  def knownEmpty: Boolean
  /** One-column frame (named `name`) carrying the keys — for sinks and
    * the broadcast fallback. */
  def toDf(spark: SparkSession, name: String): DataFrame

  /** Rows of `df` whose `keyCol` is in the set: an IN-set literal pushed
    * into the scan for a driver-resident set (no job), a broadcast semi
    * join for a distributed one. */
  def restrict(df: DataFrame, keyCol: String): DataFrame = this match {
    case LocalKeys(vals, _) => df.filter(col(keyCol).isin(vals.toSeq: _*))
    case d: DistKeys =>
      df.join(broadcast(d.toDf(df.sparkSession, keyCol)), Seq(keyCol), "left_semi")
  }

  /** Rows of `df` whose `keyCol` is not in the set. A null key never
    * matches a set key, so its row is kept — the anti-join semantics the
    * IN-set form mirrors. */
  def exclude(df: DataFrame, keyCol: String): DataFrame = this match {
    case LocalKeys(vals, _) =>
      if (vals.isEmpty) df
      else df.filter(col(keyCol).isNull || !col(keyCol).isin(vals.toSeq: _*))
    case d: DistKeys =>
      df.join(broadcast(d.toDf(df.sparkSession, keyCol)), Seq(keyCol), "left_anti")
  }
}

/** Driver-resident distinct non-null key values (≤ cap). */
final case class LocalKeys(vals: Array[Any], dt: DataType) extends KeySet {
  override def knownEmpty: Boolean = vals.isEmpty
  override def toDf(spark: SparkSession, name: String): DataFrame = {
    import scala.jdk.CollectionConverters._
    spark.createDataFrame(vals.toSeq.map(Row(_)).asJava,
      StructType(Seq(StructField(name, dt))))
  }
}

/** Distributed key frame (one column `k`, distinct, materialized via
  * localCheckpoint so repeated consumers don't recompute the source). */
final case class DistKeys(df: DataFrame) extends KeySet {
  override def knownEmpty: Boolean = false
  override def toDf(spark: SparkSession, name: String): DataFrame =
    df.withColumnRenamed("k", name)
}

object KeySet {

  val empty: KeySet = LocalKeys(Array.empty, StringType)

  /** `dt` must describe the runtime type of `vals` — a mismatch would
    * only surface later (or mis-declare the schema) inside
    * [[LocalKeys.toDf]], far from the bad call site (ADVICE r6). Checked
    * here for the types the store buckets on. Nulls are DROPPED, matching
    * [[fromDf]] (distinct non-null keys) — a retained null would crash
    * bucket hashing deep inside the store and poison IN-set three-valued
    * logic. */
  def local(vals: Array[Any], dt: DataType = StringType): KeySet = {
    val d = vals.filter(_ != null).distinct
    d.find(v => !typeMatches(v, dt)).foreach { v =>
      throw new IllegalArgumentException(
        s"KeySet.local: value of ${v.getClass.getName} does not match declared $dt")
    }
    LocalKeys(d, dt)
  }

  private def typeMatches(v: Any, dt: DataType): Boolean = {
    import org.apache.spark.sql.types._
    (v, dt) match {
      case (_: String, StringType) => true
      case (_: Int, IntegerType) => true
      case (_: Long, LongType) => true
      case (_: Short, ShortType) => true
      case (_: Byte, ByteType) => true
      case (_: Boolean, BooleanType) => true
      case _ => false
    }
  }

  /** Distinct non-null keys of `keys` (a one-column frame): ONE bounded
    * job — `limit(cap+1).collect()` (CollectLimit stops fetching past the
    * cap); above the cap the frame is checkpointed and stays distributed. */
  def fromDf(keys: DataFrame, cap: Int): KeySet = {
    val name = keys.columns.head
    val k = keys.filter(col(name).isNotNull)
      .select(col(name).as("k")).distinct()
    val dt = keys.schema.fields.head.dataType
    val capped = k.limit(cap + 1).collect()
    if (capped.length <= cap) LocalKeys(capped.map(_.get(0)), dt)
    else DistKeys(k.localCheckpoint(true))
  }

  /** Set union. Local ∪ Local is driver-side (spilling to a distributed
    * local relation above the cap); anything involving a distributed side
    * stays distributed. */
  def union(a: KeySet, b: KeySet, cap: Int, spark: SparkSession): KeySet = (a, b) match {
    case (LocalKeys(va, dta), LocalKeys(vb, dtb)) =>
      // both sides non-empty ⇒ their declared types must agree; picking one
      // silently would mis-declare half the union's schema (ADVICE r6)
      require(va.isEmpty || vb.isEmpty || dta == dtb,
        s"KeySet.union: mismatched key types $dta vs $dtb")
      val vals = (va ++ vb).distinct
      val dt = if (va.isEmpty) dtb else dta
      if (vals.length <= cap) LocalKeys(vals, dt)
      else DistKeys(LocalKeys(vals, dt).toDf(spark, "k"))
    case (da: DistKeys, o) => distUnion(da, o, spark)
    case (o, db: DistKeys) => distUnion(db, o, spark)
  }

  private def distUnion(d: DistKeys, o: KeySet, spark: SparkSession): KeySet =
    o match {
      case LocalKeys(vals, _) if vals.isEmpty => d
      case _ => DistKeys(d.df.unionByName(o.toDf(spark, "k")).distinct()
        .localCheckpoint(true))
    }
}
