package perfbench

import java.io.File
import java.nio.file.Files

import org.apache.spark.sql.SparkSession

/** The benchmark's session: `CatchUp.main`'s production projector
  * profile at `local[nproc]`, as it stood when the benchmark was defined.
  * [[driftFromCatchUp]] reads the profile `CatchUp.main` builds today from
  * its source and reports every key where the two differ, so a later
  * change to the production profile shows in the record. */
object Sessions {

  /** `CatchUp.main`'s profile, as key → value for `cores` cores. */
  def catchUpProfile(cores: Int): Seq[(String, String)] = Seq(
    "spark.sql.shuffle.partitions" -> cores.toString,
    "spark.sql.limit.initialNumPartitions" -> cores.toString,
    "spark.sql.session.timeZone" -> "UTC",
    "spark.ui.enabled" -> "false",
    "spark.sql.adaptive.enabled" -> "false",
    "spark.sql.sources.parallelPartitionDiscovery.threshold" -> "1024",
    "spark.sql.codegen.wholeStage" -> "false")

  def projector(cores: Int): SparkSession = {
    val b = SparkSession.builder().master(s"local[$cores]").appName("perfbench")
    catchUpProfile(cores).foreach { case (k, v) => b.config(k, v) }
    val spark = b.getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    spark
  }

  def effectiveConf(spark: SparkSession): Map[String, String] =
    spark.conf.getAll.filter { case (k, _) =>
      k.startsWith("spark.sql.") || k == "spark.master" || k.startsWith("spark.driver.memory") ||
        k == "spark.local.dir" || k == "spark.ui.enabled"
    }

  val catchUpSource = "src/main/scala/graft/streaming/CatchUp.scala"

  /** The `.config("key", value)` pairs in `CatchUp.scala`, values
    * resolved as `CatchUp.main` resolves them: a string literal, the core
    * count for `cpus`, an environment default for `sys.env.getOrElse`.
    * Any other expression is kept as its source text. */
  def parseCatchUpProfile(root: File, cores: Int): Seq[(String, String)] = {
    val file = new File(root, catchUpSource)
    val src = if (file.isFile) Files.readString(file.toPath) else ""
    val key = """\.config\(\s*"([^"]+)"\s*,""".r
    val literal = """"([^"]*)"""".r
    val env = """sys\.env\.getOrElse\(\s*"([^"]+)"\s*,\s*"([^"]*)"\s*\)""".r
    key.findAllMatchIn(src).map { m =>
      // the value runs to the parenthesis closing `.config(`
      var depth = 1
      var i = m.end
      while (depth > 0 && i < src.length) {
        if (src(i) == '(') depth += 1 else if (src(i) == ')') depth -= 1
        i += 1
      }
      val expr = src.substring(m.end, i - 1).trim
      m.group(1) -> (expr match {
        case literal(v) => v
        case "cpus" => cores.toString
        case env(name, dflt) => sys.env.getOrElse(name, dflt)
        case other => other
      })
    }.toSeq
  }

  /** Keys where the benchmark's session differs from the profile
    * `CatchUp.main` builds today (empty when none). */
  def driftFromCatchUp(spark: SparkSession, cores: Int, root: File): Map[String, String] = {
    val prod = parseCatchUpProfile(root, cores).toMap
    if (prod.isEmpty) Map(catchUpSource -> "no .config(key, value) pairs found")
    else {
      val ours = catchUpProfile(cores).toMap
      (prod.keySet ++ ours.keySet).toSeq.sorted.flatMap { k =>
        val got = spark.conf.getOption(k)
        if (got == prod.get(k)) None
        else Some(k -> s"${got.getOrElse("<unset>")} (CatchUp.main: ${prod.getOrElse(k, "<unset>")})")
      }.toMap
    }
  }
}
