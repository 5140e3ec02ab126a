package graft
import org.apache.spark.sql.SparkSession
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. A query that
  * throws is listed in failures.json and makes the run exit 1. */
object Verify {
  def main(args: Array[String]): Unit = {
    val Array(sfDir, outDir) = args
    val spark = Sessions.local(sys.env.getOrElse("SPARK_GRAFT_CPUS", "4"))
    new java.io.File(outDir).mkdirs()
    // oracle-readable fixture inputs must exist before the driver's
    // DuckDB pass replays oracle_sql.json (tool_calls / grocery family)
    graft.fixtures.Fixtures.materializeForOracle(spark)
    val failures = dumpAll(spark, sfDir, outDir, SparkEntry.queries)
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), oracleSqlJson)
    spark.stop()
    if (failures.nonEmpty) sys.exit(1)
  }

  /** Runs every query and writes its result to `outDir/<name>`. A query
    * that throws leaves no result directory (a stale one from an
    * earlier run is removed) and is returned as name → message; the
    * same map is written to `outDir/failures.json`, which exists only
    * when something failed. */
  def dumpAll(spark: SparkSession, sfDir: String, outDir: String,
              queries: Map[String, SparkEntry.Q]): Map[String, String] = {
    val failures = queries.toSeq.flatMap { case (name, fn) =>
      try {
        fn(spark, sfDir).coalesce(1).write.mode("overwrite")
          .parquet(s"$outDir/$name")
        None
      } catch { case e: Throwable =>
        System.err.println(s"[verify] $name failed: ${e.getMessage}")
        org.apache.commons.io.FileUtils.deleteQuietly(
          new java.io.File(s"$outDir/$name"))
        Some(name -> s"${e.getClass.getName}: ${e.getMessage}")
      }
    }
    val report = Paths.get(s"$outDir/failures.json")
    if (failures.isEmpty) Files.deleteIfExists(report)
    else Files.writeString(report, failures
      .map { case (k, v) => s"${jsonQuote(k)}: ${jsonQuote(v)}" }
      .mkString("{", ",", "}"))
    failures.toMap
  }

  /** JSON string escape: backslash, quote, and ALL control chars (<0x20)
    * — a tab or CR in builder-authored SQL would otherwise make the
    * driver's json.load fail and silently zero the round's correctness. */
  def jsonQuote(s: String): String = "\"" + s.flatMap {
    case '"'  => "\\\""
    case '\\' => "\\\\"
    case '\n' => "\\n"
    case '\r' => "\\r"
    case '\t' => "\\t"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""

  /** The oracle map as one JSON object (shared with Bench's
    * self-adjudication dump). */
  def oracleSqlJson: String = oracleSqlJson(Set.empty)

  /** Same, minus an exclusion set — Bench passes its
    * SPARK_GRAFT_EXCLUDE list so the DuckDB baseline never runs the
    * oracles of queries the point explicitly dropped (at the x1000
    * sweep point the quadratic range_join oracle alone would run for
    * hours). */
  def oracleSqlJson(exclude: Set[String]): String = SparkEntry.oracleSql
    .filterNot { case (k, _) => exclude(k) }
    .map { case (k, v) => s"${jsonQuote(k)}: ${jsonQuote(v)}" }
    .mkString("{", ",", "}")
}
