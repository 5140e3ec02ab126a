package graft

import java.nio.file.Files

import org.apache.spark.ListenerBusDrain

/** ProfileQuery's per-operator record is read off the final executed
  * plan, so its row counts must be the real ones — including those of
  * operators that only exist inside AQE query stages. */
class ProfileQuerySpec extends SparkSpec {

  test("the per-operator record carries the scan's and the post-shuffle aggregate's rows") {
    val dir = Files.createTempDirectory("profile_query")
    val path = dir.resolve("t.parquet").toString
    val executed = new ProfileQuery.ExecutedPlans
    try {
      spark.range(0, 1000, 1, 4).selectExpr("id", "id % 7 AS g").write.parquet(path)
      // deliver the table write's own event before the listener joins,
      // or it would be recorded too
      ListenerBusDrain(spark.sparkContext)
      spark.listenerManager.register(executed)
      spark.read.parquet(path).groupBy("g").count()
        .write.mode("overwrite").format("noop").save()
      ListenerBusDrain(spark.sparkContext)
      val plans = executed.all
      assert(plans.size == 1, plans.map(_._1))
      val record = ProfileQuery.operators(plans.head._2)
      val shown = record.mkString("\n")
      assert(record.exists(op => op.node.startsWith("Scan") &&
        op.metrics.contains("numOutputRows" -> 1000L)), shown)
      // the final aggregate runs after the exchange, in the AQE result
      // stage: only a walk into the final plan reaches it
      assert(record.exists(_.node.contains("Exchange")), shown)
      assert(record.exists(op => op.node == "HashAggregate" &&
        op.metrics.contains("numOutputRows" -> 7L)), shown)
    } finally {
      spark.listenerManager.unregister(executed)
      org.apache.commons.io.FileUtils.deleteQuietly(dir.toFile)
    }
  }
}
