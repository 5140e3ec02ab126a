package graft

import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicInteger

import scala.jdk.CollectionConverters._

import org.apache.spark.ListenerBusDrain
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerTaskEnd}
import org.apache.spark.sql.execution.{QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.util.QueryExecutionListener

/** Dev harness: time a named subset of SparkEntry queries on
  * SPARK_GRAFT_SF_DIR, several reps each, after a generic warmup.
  * Usage: sbt "runMain graft.ProfileQuery q1 q2 ..." — prints one
  * line per (query, rep) with its Spark job and task counts, a
  * min/median summary, and for the last rep one `[op]` line per
  * operator of each final (post-AQE) plan the rep executed — the noop
  * write and any action the query runs while it is built (q3_shipping's
  * top-10 collect) — with that operator's non-zero SQL metrics: rows,
  * bytes, spill, and scan, build, sort, aggregate and codegen-stage
  * times. That record is where a query's time goes; it runs the same
  * code path Bench times (noop sink, warm JVM).
  */
object ProfileQuery {

  /** One operator of an executed plan with its non-zero SQL metrics,
    * keyed by Spark's metric key. Sizes are bytes, times milliseconds. */
  final case class Op(node: String, metrics: Seq[(String, Long)]) {
    override def toString: String =
      (node +: metrics.map { case (k, v) => s"$k=$v" }).mkString(" ")
  }

  private object Walk extends AdaptiveSparkPlanHelper

  /** Every operator of `plan` in pre-order, AQE query stages and
    * subqueries included. A metric that never fired reads 0 (−1 for the
    * size and timing kinds) and is left out, as is a timer under 1 ms. */
  def operators(plan: SparkPlan): Seq[Op] =
    Walk.collectWithSubqueries(plan) { case p =>
      Op(p.nodeName.trim, p.metrics.toSeq.sortBy(_._1).map { case (k, m) =>
        k -> (if (m.metricType == "nsTiming") m.value / 1000000 else m.value)
      }.filter(_._2 > 0))
    }

  /** Collects the executed plans, with the action that ran each, of the
    * queries that succeed on the session it is registered with. Events
    * arrive on the listener bus: drain it ([[ListenerBusDrain]]) before
    * reading. */
  final class ExecutedPlans extends QueryExecutionListener {
    private val plans = new ConcurrentLinkedQueue[(String, SparkPlan)]
    def all: Seq[(String, SparkPlan)] = plans.asScala.toSeq
    def clear(): Unit = plans.clear()
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
      plans.add(funcName -> qe.executedPlan)
    override def onFailure(funcName: String, qe: QueryExecution, e: Exception): Unit = ()
  }

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val reps = sys.env.getOrElse("SPARK_GRAFT_REPS", "3").toInt
    val spark = Sessions.local(sys.env.getOrElse("SPARK_GRAFT_CPUS", "32"))
    val sc = spark.sparkContext
    spark.range(100000).agg(org.apache.spark.sql.functions.sum("id")).collect()
    val jobs = new AtomicInteger
    val tasks = new AtomicInteger
    sc.addSparkListener(new SparkListener {
      override def onJobStart(j: SparkListenerJobStart): Unit = jobs.incrementAndGet()
      override def onTaskEnd(t: SparkListenerTaskEnd): Unit = tasks.incrementAndGet()
    })
    val executed = new ExecutedPlans
    spark.listenerManager.register(executed)
    val names = if (args.nonEmpty) args.toSeq else Seq("a13_metrics", "approx_distinct")
    names.foreach { name =>
      val fn = SparkEntry.queries.getOrElse(name,
        sys.error(s"unknown query $name"))
      val times = (1 to reps).map { i =>
        ListenerBusDrain(sc)
        jobs.set(0); tasks.set(0); executed.clear()
        val t0 = System.nanoTime()
        fn(spark, sfDir).write.mode("overwrite").format("noop").save()
        val dt = (System.nanoTime() - t0) / 1e9
        ListenerBusDrain(sc)
        println(f"[profile] $name rep$i: $dt%.3f s jobs=${jobs.get} tasks=${tasks.get}")
        dt
      }
      executed.all.zipWithIndex.foreach { case ((action, plan), k) =>
        operators(plan).foreach(op => println(s"[op] $name ${k + 1}:$action $op"))
      }
      println(f"[profile] $name min=${times.min}%.3f median=${times.sorted.apply(reps / 2)}%.3f")
    }
    spark.stop()
  }
}
