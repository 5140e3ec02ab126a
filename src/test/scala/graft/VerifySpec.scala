package graft

import java.nio.file.{Files, Path}

/** Verify's dump loop: a throwing query must not stop the run or
  * vanish — it is listed in failures.json while the others are
  * written as usual. */
class VerifySpec extends SparkSpec {

  test("a throwing query is listed in failures.json and the rest are dumped") {
    val out = Files.createTempDirectory("verify")
    try {
      val queries: Map[String, SparkEntry.Q] = Map(
        "good" -> ((s, _) => s.range(3).toDF("id")),
        "bad" -> ((_, _) => throw new IllegalStateException("boom")))
      // a result left by an earlier run must not survive a failure
      Files.createDirectories(out.resolve("bad"))
      val failures = Verify.dumpAll(spark, "unused", out.toString, queries)
      assert(failures.keySet == Set("bad"))
      assert(failures("bad").contains("boom"))
      assert(spark.read.parquet(out.resolve("good").toString).count() == 3)
      assert(!Files.exists(out.resolve("bad")))
      val report = Files.readString(out.resolve("failures.json"))
      assert(report.contains("\"bad\"") && report.contains("boom"), report)
      assert(!report.contains("\"good\""), report)

      // a clean run removes the stale report: no failures, no file
      assert(Verify.dumpAll(spark, "unused", out.toString,
        queries - "bad").isEmpty)
      assert(!Files.exists(out.resolve("failures.json")))
    } finally org.apache.commons.io.FileUtils.deleteQuietly(out.toFile)
  }
}
