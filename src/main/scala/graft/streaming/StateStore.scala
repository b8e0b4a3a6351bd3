package graft.streaming

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{StringType, StructType}

/** Key-bucketed parquet state store for the incremental catch-up.
  *
  * Each table is laid out as `root/<table>/bucket=<b>/part-*.parquet` with
  * `b = pmod(xxhash64(bucketKey), bucketCount(table))`. A micro-batch that
  * touches a set of keys only ever
  *
  *   - READS the buckets those keys hash to (Spark partition pruning on the
  *     `bucket` directory column — untouched buckets are never opened), and
  *   - REWRITES exactly those buckets (ONE job writes the merged buckets to
  *     a staging dir, then the driver swaps the touched bucket directories
  *     — same commit class as Spark's dynamic partition overwrite, minus
  *     its separate materialization job).
  *
  * So per-batch I/O is proportional to the touched key set's bucket span,
  * not to table size — the property the reference gets from its in-memory
  * dictionaries (`ProjektorState.cs:23-125`) and a 1000-executor cluster
  * gets from a MERGE-capable table format. On an object store the per-batch
  * commit is one rename (or copy, on rename-free stores) per touched bucket
  * — proportional to the delta, the same order as the dynamic-overwrite
  * committer it replaces.
  *
  * '''One layout rule, and write amplification is bounded''' (VERDICT r4
  * #1): the bucket count is PER TABLE and only ever grows. A new table is
  * written once, at ONE bucket; [[growIfNeeded]] then doubles the count
  * until the MEAN bucket is at most `maxBucketBytes` — after a wholesale
  * write on the mean, after a merge when a touched bucket exceeds
  * `2 × maxBucketBytes`. `maxBucketBytes` is thus the only setting that
  * shapes layout. Every full write ([[writeBucketed]] or a rebucket)
  * records the count in a `_nbuckets` layout file INSIDE the table
  * directory — count and data files can never disagree, because both land
  * via one tmp-dir swap. Doubling gives the usual amortized-O(1)-per-row
  * bound on rebucket traffic, and between rebuckets a small batch writes at
  * most `touchedBuckets × 2 × maxBucketBytes` — a CONSTANT in table size
  * (StateStoreScaleSpec measures both properties on file-system metrics).
  * A single key whose rows alone exceed the threshold hashes to one bucket
  * at any count; the `n > count` guard in [[growIfNeeded]] keeps that
  * pathological case from rebucketing repeatedly.
  *
  * The bucket column is written as INT so the inferred partition type
  * matches the pruning filter exactly (a long/int mismatch would defeat
  * directory pruning and silently re-scan every bucket).
  *
  * The bucket-id collection per batch is a driver-side `collect()` of at
  * most `bucketCount` integers (bounded, not data-sized); the growth check
  * is a driver-side metadata probe of the touched bucket directories.
  *
  * Single writer per store root (the catch-up loop), as in the reference's
  * one-process worker — the layout cache assumes no concurrent rebucketer.
  */
class StateStore(spark: SparkSession, val root: String,
    val maxBucketBytes: Long = 256L << 20, val maxInsetKeys: Int = 10000) {

  import org.apache.hadoop.fs.{FileSystem, Path}

  private def path(table: String) = s"$root/$table"

  /** Parquet codec for every state file the store writes. lz4 beats the
    * session default (snappy) on the micro-batch hot path — the state
    * files are small (tens of KB to a few MB), re-read every batch, and
    * encode/decode CPU dominates their I/O: an interleaved 2×-per-codec
    * EngineBench A/B measured dense catch-up min 3.44/3.20 s (snappy) vs
    * 2.79/2.56 s (lz4), sentinel-normalized 26.5/28.1 vs 20.4/23.6, with
    * sparse never worse; uncompressed was ambiguous (best raw on the
    * quietest host, worst normalized). Scoped here rather than session-
    * wide so sinks/outputs keep their own codec choices. */
  private val StateCodec = "lz4"

  // all store I/O goes through the Hadoop FileSystem API, so the same
  // layout runs on local disk, HDFS, or an object store unchanged
  private def fs: FileSystem =
    new Path(root).getFileSystem(spark.sparkContext.hadoopConfiguration)

  // ---- per-table bucket-count layout ----

  // concurrent: Incremental.step sections touch disjoint tables in parallel
  private val layoutCache = scala.collection.concurrent.TrieMap[String, Int]()

  /** Bucket count of `table`'s current on-disk layout (its `_nbuckets`
    * entry); 1 for a table not written yet, the count its first write
    * uses. A bucketed table without the entry fails loudly: the count its
    * files were hashed with is unknown, and guessing one would silently
    * miss rows on keyed reads. */
  def bucketCount(table: String): Int = layoutCache.get(table).getOrElse {
    val p = new Path(s"${path(table)}/_nbuckets")
    if (fs.exists(p)) layoutCache.getOrElseUpdate(table, readText(p).trim.toInt)
    else if (exists(table)) sys.error(
      s"StateStore: table $table has bucket dirs but no _nbuckets layout entry")
    else 1
  }

  private def bucketExpr(key: Column, n: Int): Column =
    pmod(xxhash64(key.cast("string")), lit(n.toLong)).cast("int")

  def bucketOf(table: String, key: Column): Column =
    bucketExpr(key, bucketCount(table))

  /** The bucket id [[bucketExpr]] computes, evaluated in the driver JVM —
    * Spark's own interpreted xxhash64 (seed 42) over the value's string
    * form, so a driver-resident key set ([[LocalKeys]]) yields its bucket
    * span with ZERO Spark jobs (the 2-second step previously paid one
    * collect job per read and two per merge just to learn these ints).
    * Matches `key.cast("string")` for the string/integral/boolean keys the
    * store holds (KeySetSpec pins the parity against the column form). */
  def bucketOfValue(table: String, v: Any): Int =
    bucketVal(v, bucketCount(table))

  private def bucketVal(v: Any, n: Int): Int = {
    // ONLY the types whose driver-side string form provably matches
    // `cast("string")` (KeySetSpec pins the parity). A timestamp/decimal/
    // float key stringifies DIFFERENTLY in the JVM than in Catalyst and
    // would silently hash to another bucket than its files were written
    // with — losing rows on keyed reads. Fail loudly instead (ADVICE r6).
    val s = v match {
      case s: String => s
      case _: Int | _: Long | _: Short | _: Byte | _: Boolean => String.valueOf(v)
      case null => throw new IllegalArgumentException(
        "StateStore.bucketOfValue: null bucket key (key sets drop nulls)")
      case other => throw new IllegalArgumentException(
        s"StateStore.bucketOfValue: unsupported key type ${other.getClass.getName} — " +
          "driver/column xxhash64 parity is only pinned for string/integral/boolean " +
          "keys; extend bucketVal AND KeySetSpec before bucketing on this type")
    }
    val h = org.apache.spark.sql.catalyst.expressions.XxHash64Function
      .hash(org.apache.spark.unsafe.types.UTF8String.fromString(s), StringType, 42L)
    (((h % n) + n) % n).toInt
  }

  /** The buckets `keys` spans under a layout of `n` buckets: driver-side
    * for a resident set, one bounded collect (≤ n ints) for a distributed
    * one. */
  private def bucketsOf(keys: KeySet, n: Int): Array[Int] = keys match {
    case LocalKeys(vals, _) => vals.map(bucketVal(_, n)).distinct
    case DistKeys(df) =>
      df.select(bucketExpr(col("k"), n).as("b")).distinct().collect().map(_.getInt(0))
  }

  // crash recovery is checked once per table per store instance: only
  // THIS process's writeFull can create a new `.old_` afterwards, and it
  // either completes the swap or fails loudly (single-writer store)
  private val recoveryChecked = java.util.concurrent.ConcurrentHashMap.newKeySet[String]()

  // positive-existence cache: a table that exists never un-exists under the
  // single-writer contract (bucket dirs may empty out, but the reads/merges
  // below behave identically on an empty-but-present table), so each table
  // pays the listStatus probe once per store instance instead of once per
  // read/merge — on an object store those were per-call LIST requests on
  // the 2-second hot path (VERDICT r5 #1c)
  private val knownExists = java.util.concurrent.ConcurrentHashMap.newKeySet[String]()

  /** Resolve one bucket's move-aside from a crashed [[mergeReplaceReturning]]
    * swap: live missing → the crash hit between move-aside and promote, the
    * aside IS the pre-merge bucket — restore it (the unapplied batch then
    * replays over pre-merge state). Live present → the promote completed,
    * the aside is pre-merge garbage — drop it. */
  private def recoverBucketAside(live: Path, aside: Path): Unit =
    if (fs.exists(aside)) {
      if (!fs.exists(live)) {
        if (!fs.rename(aside, live))
          sys.error(s"StateStore: failed to recover bucket aside $aside")
      } else fs.delete(aside, true)
      ()
    }

  def exists(table: String): Boolean = {
    if (knownExists.contains(table)) return true
    val p = new Path(path(table))
    if (recoveryChecked.add(table)) {
      // a crash between the two renames of a full-write swap leaves the
      // table only under `.old_<table>` — promote it back before answering
      val old = new Path(s"$root/.old_$table")
      if (!fs.exists(p) && fs.exists(old)) {
        if (!fs.rename(old, p)) sys.error(s"StateStore: failed to recover $table")
        layoutCache.remove(table)
        ()
      } else if (fs.exists(old)) {
        // crash after promote but before trash cleanup — the swap completed
        fs.delete(old, true)
        ()
      }
      // bucket-level asides from a crashed merge swap (ADVICE r7): one
      // listing once per table per process, off the hot path
      if (fs.exists(p) && fs.getFileStatus(p).isDirectory) {
        fs.listStatus(p).filter(_.getPath.getName.startsWith(".old_bucket="))
          .foreach { st =>
            val liveName = st.getPath.getName.stripPrefix(".old_")
            recoverBucketAside(new Path(p, liveName), st.getPath)
          }
      }
    }
    // a bare _SUCCESS/empty dir (all-bucket overwrite of an empty frame)
    // counts as existing-but-empty only if some bucket dir is present
    val ok = fs.exists(p) && fs.getFileStatus(p).isDirectory &&
      fs.listStatus(p).exists(_.getPath.getName.startsWith("bucket="))
    if (ok) { knownExists.add(table); () }
    ok
  }

  private def emptyDf(schema: StructType): DataFrame =
    spark.createDataFrame(spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], schema)

  private def withBucketField(schema: StructType): StructType =
    StructType(schema.fields :+
      org.apache.spark.sql.types.StructField("bucket", org.apache.spark.sql.types.IntegerType))

  /** Full scan of a bucketed table (bucket column dropped). Used only for
    * bounded-size tables (folded state ≪ event log) and final reads. */
  def readAll(table: String, schema: StructType): DataFrame =
    if (exists(table)) {
      // explicit schema (incl. the bucket partition column) — same as
      // readKeyed: inference costs a footer-listing job per read
      spark.read.schema(withBucketField(schema)).parquet(path(table))
        .drop("bucket")
        .select(schema.fieldNames.map(col).toSeq: _*)
    } else emptyDf(schema)

  // `maxInsetKeys` (constructor): key sets up to this size stay DRIVER-
  // RESIDENT ([[LocalKeys]]) and restrict reads/merges with IN-set
  // literals pushed into the parquet scan — no broadcast-exchange JOB per
  // use (a step re-executes each broadcast subquery on every downstream
  // action; the 2-second loop once paid ~200 broadcast jobs per
  // micro-batch for batch-bounded key sets). Larger sets fall back to the
  // distributed broadcast-join path ([[DistKeys]] — the 100 TB shape).
  // Constructor-injectable so StepDistKeysSpec can force every engine
  // path through the distributed fallback on a small log.

  /** Scan of exactly the touched bucket DIRECTORIES (never the table
    * root): a root read must discover all partitions first, and past the
    * parallel-discovery threshold (32 paths) that listing is a distributed
    * JOB per read — at 64 buckets the step was paying ~10 listing jobs per
    * micro-batch. Reading the touched dirs lists only those (driver-side,
    * bounded by the touched set — on an object store, LISTs proportional
    * to the delta, not the table). `basePath` keeps the `bucket` partition
    * column; explicit schema skips footer inference. */
  private def prunedRead(table: String, dataSchema: StructType,
      buckets: Array[Int]): DataFrame = {
    val dirs = buckets.map(b => s"${path(table)}/bucket=$b")
      .filter(d => fs.exists(new Path(d)))
    if (dirs.isEmpty) emptyDf(withBucketField(dataSchema))
    else spark.read.schema(withBucketField(dataSchema))
      .option("basePath", path(table)).parquet(dirs.toSeq: _*)
  }

  /** Rows of `table` whose `keyCol` is in `keys`. Driver-resident key sets
    * plan with ZERO jobs: bucket pruning from [[bucketOfValue]], the key
    * restriction as an IN-set literal pushed into the parquet scan.
    * Distributed sets pay one bounded bucket-id collect (≤ bucketCount
    * ints) and restrict via a broadcast semi join. */
  def readKeyed(table: String, schema: StructType, keyCol: String, keys: KeySet): DataFrame = {
    if (!exists(table)) return emptyDf(schema)
    val buckets = bucketsOf(keys, bucketCount(table))
    if (buckets.isEmpty) return emptyDf(schema)
    keys.restrict(prunedRead(table, schema, buckets), keyCol).drop("bucket")
      .select(schema.fieldNames.map(col).toSeq: _*)
  }

  /** Delete-then-insert merge: remove every row whose `keyCol` is in
    * `keys`, insert `replacement`, rewriting only the buckets involved.
    * `bucketSrcCol` is the column bucketing the table's layout (defaults
    * to the merge key); when they differ (e.g. eligible-ends bucketed by
    * route node but deleted by equipment id), `extraBucketVals` must carry
    * the bucket-source values of BOTH the rows being deleted (their OLD
    * positions) and every `replacement` row, so all affected buckets are
    * rewritten.
    *
    * Contract (r6 — lets the bucket span derive from the keys instead of a
    * replacement-frame scan): replacement rows' bucket-source values must
    * be covered by `keys` (default layout) or `extraBucketVals` (split
    * layout). Every engine call site satisfies this by construction — a
    * merge's replacement is a function of (stored state, batch) restricted
    * to the touched keys.
    *
    * With a driver-resident key set the merge costs ONE job (the staged
    * bucket write — see [[mergeReplaceReturning]]): the bucket span and the
    * delete IN-set come from the keys with no collect, and the
    * emptied-bucket sweep is a free by-product of the staging-dir
    * listing. */
  def mergeReplace(table: String, keyCol: String, keys: KeySet,
      replacement: DataFrame, bucketSrcCol: Option[String] = None,
      extraBucketVals: Option[KeySet] = None): Unit = {
    // the returned frame is a lazy read since r7 (nothing to release)
    mergeReplaceReturning(table, keyCol, keys, replacement, bucketSrcCol, extraBucketVals)
    ()
  }

  /** [[mergeReplace]] that additionally RETURNS the post-merge content of
    * the touched buckets (kept ∪ replacement, with the `bucket` column) as
    * a lazy read of the files the swap just promoted. Restricting that
    * frame to the touched keys re-derives the replacement rows WITHOUT a
    * second materialization job — the fusion
    * [[graft.streaming.Incremental]] uses to finalize output rows from a
    * family merge (VERDICT r5 #1a; since r7 the frame is file-backed, not
    * a checkpoint — consumers re-read the just-written, page-cached
    * files). `None` when the merge was a no-op (empty bucket span) or the
    * table was created wholesale. */
  def mergeReplaceReturning(table: String, keyCol: String, keys: KeySet,
      replacement: DataFrame, bucketSrcCol: Option[String] = None,
      extraBucketVals: Option[KeySet] = None): Option[DataFrame] = {
    // split layout without the bucket-source values would compute an empty
    // span and silently no-op the merge (ADVICE r6) — the caller must pass
    // the covered values explicitly (even an intentionally-empty KeySet
    // states the intent; None is always a bug)
    require(bucketSrcCol.isEmpty || extraBucketVals.nonEmpty,
      s"mergeReplace($table): bucketSrcCol=${bucketSrcCol.orNull} requires " +
        "extraBucketVals carrying the replacement+deleted rows' bucket-source values")
    val bcol = bucketSrcCol.getOrElse(keyCol)
    if (!exists(table)) {
      writeBucketed(table, bcol, replacement)
      return None
    }
    val n = bucketCount(table)
    val withBucket = replacement.withColumn("bucket", bucketExpr(col(bcol), n))
    // the bucket span of the merge: buckets of the touched keys (default
    // layout) or of the caller-supplied bucket-source values (split
    // layout) — see the coverage contract above
    val bucketSource: KeySet =
      if (bucketSrcCol.isEmpty) keys else extraBucketVals.getOrElse(KeySet.empty)
    val buckets = bucketsOf(bucketSource, n)
    if (buckets.isEmpty) {
      // an empty span must mean an empty replacement — otherwise rows are
      // being silently dropped (coverage contract). One job, paid only on an
      // empty span: the step's family and output merges return on a
      // known-empty key set before they get here.
      if (!replacement.isEmpty) sys.error(
        s"mergeReplace($table): empty bucket span but non-empty replacement — " +
          "the touched keys / extraBucketVals do not cover the replacement rows")
      return None
    }
    val kept = keys.exclude(prunedRead(table, replacement.schema, buckets)
      .select(withBucket.columns.map(col).toSeq: _*), keyCol)
    // ONE job (r7, VERDICT r6 #2a): write the merged buckets to a staging
    // dir — the lazy plan still reads the LIVE files, so nothing it scans
    // is overwritten until the job completes — then swap the touched
    // bucket dirs in the driver. This fuses the previous
    // localCheckpoint-then-dynamic-overwrite pair (two full jobs per
    // merge, the dominant fixed cost of the 2-second step) and makes the
    // emptied-bucket sweep free: a touched bucket with no staged dir has
    // no surviving rows — delete it (no separate present-bucket collect).
    // Crash mid-swap leaves some buckets promoted and some not (each
    // individually recoverable via its move-aside — see the swap loop);
    // the batch — not yet marked applied — replays through the pre-merge
    // snapshots / fixpoint merges.
    // Repartition BY BUCKET first: one shuffle partition per touched
    // bucket ⇒ one file per bucket dir (not partitions × buckets). For a
    // SMALL merge (touched bucket bytes under one bucket's budget — the
    // micro-batch steady state) skip the exchange entirely: coalesce(1)
    // collapses scan+union+write into one single-task stage, still one
    // file per bucket (one task writes each partition dir once), and
    // drops a whole stage boundary from the 2-second step. The gate is a
    // driver-side metadata probe of dirs growIfNeeded probes anyway.
    val touchedBytes = buckets.iterator
      .map(b => dirBytes(new Path(s"${path(table)}/bucket=$b"))).sum
    val planned = kept.unionByName(withBucket.select(kept.columns.map(col).toSeq: _*))
    val merged =
      if (touchedBytes <= maxBucketBytes) planned.coalesce(1)
      else planned.repartition(buckets.length, col("bucket"))
    val tmp = new Path(s"$root/.merge_$table")
    fs.delete(tmp, true)
    // thread-local job description: names the merge in the Spark UI and
    // in job listeners (perfbench step.merge_jobs) — costs nothing on the data path
    spark.sparkContext.setJobDescription(s"graft-merge:$table")
    try merged.write.mode("overwrite").option("compression", StateCodec)
      .partitionBy("bucket").parquet(tmp.toString)
    finally spark.sparkContext.setJobDescription(null)
    val staged = fs.listStatus(tmp).map(_.getPath.getName)
      .filter(_.startsWith("bucket=")).map(_.stripPrefix("bucket=").toInt)
    // coverage-contract check — ALWAYS on now that it is a driver-side
    // directory listing (no job): a replacement row hashing outside the
    // computed span would silently vanish in the swap below (its bucket
    // is never promoted), destroying the merge's completeness.
    val outOfSpan = staged.toSet -- buckets.toSet
    if (outOfSpan.nonEmpty) sys.error(
      s"mergeReplace($table): replacement rows hash to buckets " +
        s"${outOfSpan.toSeq.sorted.mkString(",")} outside the touched-key span — " +
        "the touched keys / extraBucketVals do not cover the replacement rows")
    // Per-bucket promote is move-aside, not delete-then-rename (ADVICE r7
    // medium): a crash between a delete and the staged rename would
    // PERMANENTLY lose the bucket's untouched-key rows — on replay `kept`
    // prunedReads the now-missing live dir, and the batch snapshot copy
    // holds touched keys' buckets only. With the aside, every crash point
    // leaves the bucket recoverable: [[recoverBucketAsides]] (run from
    // [[exists]] once per table per process, and here for the touched
    // span before a retry-in-process) restores `.old_bucket=N` → live when
    // live is missing, and discards it when the promote completed. Leading
    // dot keeps the aside invisible to readAll's partition discovery.
    buckets.foreach { bk =>
      val live = new Path(s"${path(table)}/bucket=$bk")
      val aside = new Path(s"${path(table)}/.old_bucket=$bk")
      recoverBucketAside(live, aside)
      val stagedDir = new Path(tmp, s"bucket=$bk")
      if (fs.exists(live) && !fs.rename(live, aside))
        sys.error(s"mergeReplace($table): failed to move aside bucket $bk")
      if (fs.exists(stagedDir) && !fs.rename(stagedDir, live))
        sys.error(s"mergeReplace($table): failed to promote bucket $bk")
      fs.delete(aside, true)
    }
    fs.delete(tmp, true)
    val countBefore = bucketCount(table)
    growIfNeeded(table, bcol, replacement.schema, Some(buckets.toSeq))
    // the post-merge content of the touched buckets, as a lazy read of the
    // files just promoted — callers re-derive output rows from it without
    // another materialization job. If the merge just triggered a REBUCKET,
    // the promoted dirs were rewritten under a different count and the
    // pre-merge bucket ids no longer span the touched keys — recompute the
    // span under the new layout (a lazy frame of stale dir names would
    // silently drop the keys that now hash elsewhere).
    val outBuckets =
      if (bucketCount(table) == countBefore) buckets
      else bucketsOf(bucketSource, bucketCount(table))
    Some(prunedRead(table, replacement.schema, outBuckets))
  }

  /** Overwrite a bucketed table wholesale (bucket = hash of `bucketCol`).
    * The seeding path of the backfill→catch-up handoff: writes the batch-
    * derived state/output tables in exactly the layout [[mergeReplace]]
    * maintains incrementally, so [[graft.streaming.Incremental.step]] can
    * continue from a backfill without refolding the log. Writes at the
    * table's current count — one bucket for a new table, so a table under
    * [[maxBucketBytes]] is written exactly once — and [[growIfNeeded]]
    * grows a larger one in a single rewrite. */
  def writeBucketed(table: String, bucketCol: String, df: DataFrame): Unit = {
    writeFull(table, bucketCol, df, bucketCount(table))
    growIfNeeded(table, bucketCol, df.schema, None)
  }

  /** Data + `_nbuckets` layout entry land together via one tmp-dir swap:
    * a reader can never see files hashed with a different count than the
    * layout entry claims. Crash windows leave either the old table intact
    * (pre-swap) or the table only under `.old_` ([[exists]] recovers). */
  private def writeFull(table: String, bucketCol: String, df: DataFrame,
      count: Int): Unit = {
    val tmp = new Path(s"$root/.tmp_$table")
    val target = new Path(path(table))
    fs.delete(tmp, true)
    // one shuffle partition per bucket ⇒ one file per bucket dir (see
    // mergeReplace — avoids partitions × buckets small files)
    df.withColumn("bucket", bucketExpr(col(bucketCol), count))
      .repartition(count, col("bucket"))
      .write.mode("overwrite").option("compression", StateCodec)
      .partitionBy("bucket").parquet(tmp.toString)
    val out = fs.create(new Path(tmp, "_nbuckets"), true)
    try out.write(count.toString.getBytes("UTF-8")) finally out.close()
    val trash = new Path(s"$root/.old_$table")
    fs.delete(trash, true)
    if (fs.exists(target) && !fs.rename(target, trash))
      sys.error(s"StateStore: failed to move aside $target")
    if (!fs.rename(tmp, target))
      sys.error(s"StateStore: failed to promote $tmp to $target")
    fs.delete(trash, true)
    layoutCache(table) = count
    ()
  }

  private def dirBytes(p: Path): Long =
    if (fs.exists(p)) fs.getContentSummary(p).getLength else 0L

  /** Grow `table`'s bucket count when its layout no longer fits its size:
    * double the count until the mean bucket is at most `maxBucketBytes`,
    * and rewrite the table once at that count. The only rule that changes
    * a count, and it never lowers one. Wholesale path (`touched = None`,
    * one full write just happened): checked on the mean, so a large seeded
    * table gets the count its size needs at once. Incremental path
    * (`touched = Some`): checked when a touched bucket dir exceeds
    * `2 × maxBucketBytes`. Probes are driver-side directory metadata,
    * bounded by the touched set. */
  private def growIfNeeded(table: String, bucketCol: String, schema: StructType,
      touched: Option[Seq[Int]]): Unit = {
    if (!exists(table)) return
    val due = touched.forall(bs => bs.nonEmpty &&
      bs.iterator.map(b => dirBytes(new Path(s"${path(table)}/bucket=$b")))
        .max > 2L * maxBucketBytes)
    if (!due) return
    val count = bucketCount(table)
    val total = dirBytes(new Path(path(table)))
    var n = count
    while (total / n > maxBucketBytes) n *= 2
    if (n > count) {
      // explicit schema (the caller's write just landed these fields);
      // strip any caller-side bucket column before re-deriving it
      val dataSchema = StructType(schema.fields.filterNot(_.name == "bucket"))
      val df = spark.read.schema(withBucketField(dataSchema))
        .parquet(path(table)).drop("bucket")
      writeFull(table, bucketCol, df, n)
    }
  }

  // --- tiny metadata entries (high-water seq, last applied batch) ---
  // Write = tmp file + delete + rename: on stores without atomic rename the
  // failure window is a MISSING entry, never a torn one, and every consumer
  // treats "missing" as "replay more" (converges by replay idempotence).

  private def writeText(target: Path, value: String): Unit = {
    val tmp = new Path(target.getParent, s".tmp${target.getName}")
    val out = fs.create(tmp, true)
    try out.write(value.getBytes("UTF-8")) finally out.close()
    fs.delete(target, false)
    if (!fs.rename(tmp, target)) sys.error(s"StateStore: failed to publish $target")
    ()
  }

  private def readText(p: Path): String = {
    val in = fs.open(p)
    try {
      val bytes = new Array[Byte](fs.getFileStatus(p).getLen.toInt)
      in.readFully(bytes)
      new String(bytes, "UTF-8")
    } finally in.close()
  }

  def writeMeta(name: String, value: String): Unit =
    writeText(new Path(s"$root/_meta_$name"), value)

  def readMeta(name: String): Option[String] = {
    val target = new Path(s"$root/_meta_$name")
    if (fs.exists(target)) Some(readText(target)) else None
  }

  def deleteMeta(name: String): Unit = {
    fs.delete(new Path(s"$root/_meta_$name"), false)
    ()
  }

  /** Greatest event seq already folded by a backfill seed (the stream
    * starts strictly after it). `Long.MinValue` when never seeded. */
  def highWater: Long = readMeta("high_water").map(_.toLong).getOrElse(Long.MinValue)
  def setHighWater(seq: Long): Unit = writeMeta("high_water", seq.toString)

  /** Greatest foreachBatch batchId whose step ran to completion. Only
    * meaningful within ONE streaming-checkpoint incarnation — batch ids
    * restart at 0 when the checkpoint is recreated, so [[CatchUp]] records
    * the query id alongside and calls [[clearLastAppliedBatch]] on a
    * mismatch (ADVICE r4: without the guard, deleting `_checkpoint` while
    * keeping the store silently skips every replayed batch). */
  def lastAppliedBatch: Option[Long] = readMeta("applied_batch").map(_.toLong)
  def setLastAppliedBatch(batchId: Long): Unit = writeMeta("applied_batch", batchId.toString)
  def clearLastAppliedBatch(): Unit = deleteMeta("applied_batch")

  // --- per-batch pre-merge snapshots (replay atomicity) ---
  // A step's later sections consume PRE-batch reads of tables it merged
  // earlier in the same step (e.g. the vacated node positions of a moved
  // equipment). A mid-step crash + at-least-once redelivery would re-read
  // those tables post-merge and lose the pre-batch view — so every
  // pre-merge read goes through a PIN, taken once per (batch, table) and
  // never modified. The first read of the pair copies the live files it
  // needs into _snap/batch=<id>/<table>/ (a driver-side file copy, no
  // Spark job) and then publishes a write-once `_pin` marker (tmp file +
  // rename). Every later read of the pair — in the same step or on a
  // replay — reads only the pinned copy. The step pins each table before
  // that table's merge, over every key its pre-merge readers need, so a
  // read needing more than the pin holds is a bug and fails loudly: the
  // live files may already be post-merge.

  private def snapPath(batchId: Long, name: String) = s"$root/_snap/batch=$batchId/$name"

  /** The snapshot dir of (batchId, table) and its `_pin` record; when the
    * pair is not pinned yet, the dir is emptied for the caller's copy. A
    * dir without the marker is a copy torn before the marker landed — so
    * before any merge of the table in this batch — and safe to redo; an
    * older store's snapshot (`_SUCCESS` plus `_buckets*` manifests) is
    * rejected, never re-copied from live. */
  private def pinOf(batchId: Long, table: String): (Path, Option[String]) = {
    val p = new Path(snapPath(batchId, table))
    val marker = new Path(p, "_pin")
    if (fs.exists(marker)) (p, Some(readText(marker)))
    else if (fs.exists(new Path(p, "_SUCCESS"))) sys.error(
      s"StateStore: snapshot $p of $table has the layout of an older store " +
        s"(no _pin marker); finish batch $batchId with the version that wrote it")
    else {
      fs.delete(p, true)
      fs.mkdirs(p)
      (p, None)
    }
  }

  private def copyDir(src: Path, dst: Path): Unit =
    if (fs.exists(src) && !org.apache.hadoop.fs.FileUtil.copy(fs, src, fs, dst, false,
        spark.sparkContext.hadoopConfiguration))
      sys.error(s"StateStore: snapshot copy failed for $src")

  /** Pins `table`'s pre-merge buckets for `keys` in batch `batchId`: the
    * first call for the pair copies the touched bucket dirs and records
    * `n=<count>,<ids>`; a later call checks its buckets — under the pinned
    * count, which a rebucketing merge may since have changed — are all
    * pinned. Returns the pinned dirs `keys` needs that hold rows. A
    * known-empty key set pins nothing (a replay re-derives the same empty
    * read from the batch alone). */
  def pinKeyed(batchId: Long, table: String, keys: KeySet): Seq[String] = {
    if (keys.knownEmpty) return Nil
    val (p, record) = pinOf(batchId, table)
    // n=0: pinned before the table existed — the pre-merge view is empty
    def need(n: Int) = if (n == 0) Array.empty[Int] else bucketsOf(keys, n)
    val buckets = record match {
      case Some(rec) =>
        val toks = rec.split(",")
        val n = toks.head.stripPrefix("n=").toInt
        val bks = need(n)
        val missing = bks.toSet -- toks.tail.map(_.toInt)
        if (missing.nonEmpty) sys.error(
          s"StateStore: batch $batchId snapshot of $table has buckets " +
            s"${missing.toSeq.sorted.mkString(",")} (count $n) not pinned — a " +
            "table is pinned once per batch, over every key its pre-merge reads need")
        bks
      case None =>
        val n = if (exists(table)) bucketCount(table) else 0
        val bks = need(n)
        bks.foreach(b => copyDir(new Path(s"${path(table)}/bucket=$b"), new Path(p, s"bucket=$b")))
        writeText(new Path(p, "_pin"), (s"n=$n" +: bks.sorted.map(_.toString)).mkString(","))
        bks
    }
    val copied = fs.listStatus(p).map(_.getPath.getName).toSet
    buckets.map(b => s"bucket=$b").filter(copied).map(d => s"$p/$d").toSeq
  }

  /** [[readKeyed]] through the batch's pin of `table` ([[pinKeyed]]): the
    * pinned buckets are a superset of the keyed rows, so the read applies
    * the key restriction, exactly as [[readKeyed]] does live. */
  def readKeyedSnap(batchId: Long, table: String, schema: StructType,
      keyCol: String, keys: KeySet): DataFrame = {
    val dirs = pinKeyed(batchId, table, keys)
    if (dirs.isEmpty) return emptyDf(schema)
    val raw = spark.read.schema(withBucketField(schema))
      .option("basePath", snapPath(batchId, table)).parquet(dirs: _*)
    keys.restrict(raw, keyCol).drop("bucket").select(schema.fieldNames.map(col).toSeq: _*)
  }

  /** [[readSmall]] through the batch's pin of `table`: the first call
    * copies the table's directory, as [[pinKeyed]] copies buckets. */
  def readSmallSnap(batchId: Long, table: String, schema: StructType): DataFrame = {
    val (p, record) = pinOf(batchId, table)
    val rows = new Path(p, "rows")
    if (record.isEmpty) {
      copyDir(new Path(path(table)), rows)
      writeText(new Path(p, "_pin"), "")
    }
    if (!fs.exists(rows)) emptyDf(schema)
    else spark.read.schema(schema).parquet(rows.toString)
      .select(schema.fieldNames.map(col).toSeq: _*)
  }

  /** Drop snapshot dirs of other batches (only one batch is ever in
    * flight) and, when `including`, this batch's own — then the whole
    * `_snap` dir, so a committed store holds no snapshot dir at all. */
  def clearSnapshots(batchId: Long, including: Boolean = false): Unit = {
    val snapRoot = new Path(s"$root/_snap")
    if (including) fs.delete(snapRoot, true)
    else if (fs.exists(snapRoot)) {
      fs.listStatus(snapRoot).foreach { st =>
        if (st.getPath.getName != s"batch=$batchId") fs.delete(st.getPath, true)
      }
    }
  }

  // ---- driver-resident small-table cache (VERDICT r6 #2b) ----
  // The spec dimensions are a handful of rows, and EVERY family finalizer
  // joins them — served lazily from parquet, each downstream action paid a
  // 4-table scan on the 2-second hot path. Cache the content driver-side
  // and serve a LocalRelation: zero scan tasks, and a broadcast join plans
  // without a file read. Bounded: tables past the cap fall back to the
  // lazy parquet read. Staleness shares the single-writer assumption the
  // layout cache already makes (one StateStore instance per root);
  // writeSmall refreshes the entry in place.
  private val smallCacheRowCap = 100000
  private val smallCache = scala.collection.concurrent.TrieMap[
    String, (StructType, Array[org.apache.spark.sql.Row])]()

  private def localDf(schema: StructType, rows: Array[org.apache.spark.sql.Row]): DataFrame =
    spark.createDataFrame(java.util.Arrays.asList(rows: _*), schema)

  /** Unbucketed tiny table (specification dimensions): full overwrite via
    * tmp+swap (content is a handful of rows; atomicity via rename checked —
    * on stores without atomic rename the window is a missing-table read,
    * never a torn one, and the next batch rewrites it). Returns the
    * written content as the local checkpoint the write was made from. */
  def writeSmall(table: String, df: DataFrame): DataFrame = {
    val out = df.localCheckpoint(true)
    val tmp = new Path(s"$root/.tmp_$table")
    val target = new Path(path(table))
    fs.delete(tmp, true)
    out.write.mode("overwrite").option("compression", StateCodec).parquet(tmp.toString)
    val trash = new Path(s"$root/.old_$table")
    fs.delete(trash, true)
    if (fs.exists(target) && !fs.rename(target, trash))
      sys.error(s"StateStore: failed to move aside $target")
    if (!fs.rename(tmp, target))
      sys.error(s"StateStore: failed to promote $tmp to $target")
    fs.delete(trash, true)
    // refresh the driver cache from the already-checkpointed frame (cheap
    // collect over in-memory blocks; the table was just rewritten, so a
    // stale entry would otherwise survive until the next cold read)
    val rows = out.limit(smallCacheRowCap + 1).collect()
    if (rows.length <= smallCacheRowCap) smallCache(table) = (out.schema, rows)
    else smallCache.remove(table)
    out
  }

  def readSmall(table: String, schema: StructType): DataFrame = {
    // cache hit requires name AND type agreement (ADVICE r7): a caller
    // asking for the same names with different types must fall through to
    // the parquet read (which applies the requested schema), not silently
    // receive the cached types. Nullability is excluded — parquet reads
    // relax it, and a spurious miss here would re-collect every call.
    smallCache.get(table) match {
      case Some((sch, rows)) if sch.fields.map(f => (f.name, f.dataType))
          .sameElements(schema.fields.map(f => (f.name, f.dataType))) =>
        return localDf(sch, rows).select(schema.fieldNames.map(col).toSeq: _*)
      case _ => ()
    }
    val p = new Path(path(table))
    if (fs.exists(p) && fs.getFileStatus(p).isDirectory) {
      // explicit schema, like every other store read: inference costs a
      // footer-listing job per read
      val df = spark.read.schema(schema).parquet(p.toString)
        .select(schema.fieldNames.map(col).toSeq: _*)
      // one bounded collect populates the cache; subsequent reads (and
      // every downstream action of THIS read) serve from the driver
      val rows = df.limit(smallCacheRowCap + 1).collect()
      if (rows.length <= smallCacheRowCap) {
        smallCache(table) = (df.schema, rows)
        localDf(df.schema, rows)
      } else df
    } else emptyDf(schema)
  }
}
