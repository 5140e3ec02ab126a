package perfbench

import java.lang.management.ManagementFactory
import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path, Paths}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.ObjectMapper
import org.apache.spark.sql.SparkSession

/** State of one benchmark run: the session, the tracer, the measured
  * values and the outcome of every output check. */
final class Ctx(val spark: SparkSession, val tracer: Tracer, val counters: Option[SparkCounters],
                val seed: Long, val seconds: Int, fault: Boolean, val workDir: Path,
                val benchDir: Path) {
  val values = mutable.LinkedHashMap.empty[String, Double]
  val failures = mutable.ArrayBuffer.empty[String]
  val opCounts = mutable.ArrayBuffer.empty[OpCounts]
  var attempted = 0
  var failed = 0
  private var faultArmed = fault

  def put(name: String, v: Double): Unit = values(name) = v
  def info(msg: String): Unit = println(msg)

  def check(ok: Boolean, msg: => String): Boolean = {
    if (!ok) {
      failures += msg
      System.err.println(s"[perfbench] check failed: $msg")
    }
    ok
  }

  /** One attempted op: counts it, and counts it failed when it throws or
    * its checks fail. */
  def attempt(what: String)(body: => Boolean): Boolean = {
    attempted += 1
    val ok = try body catch {
      case e: Throwable => check(ok = false, s"$what threw ${e.toString.take(500)}")
    }
    if (!ok) failed += 1
    ok
  }

  /** Runs one timed op as span `name` of op `id`; with the listener on,
    * also records what Spark did during it. Returns the op's wall time. */
  def timedOp[T](id: Int, name: String)(body: => T): (T, Double) = counters match {
    case Some(c) =>
      val (out, counts) = c.measure(tracer.op(id, name)(body))
      opCounts += counts
      (out, counts.wallS)
    case None =>
      val t0 = System.nanoTime()
      val out = tracer.op(id, name)(body)
      (out, (System.nanoTime() - t0) / 1e9)
  }

  /** The output check self-test: when a fault is requested, the first
    * engine output that reaches a check loses its last row (or gains a
    * bogus one when empty), and that check must fail. */
  def corrupt[T](rows: Seq[T], bogus: => T): Seq[T] =
    if (!faultArmed) rows
    else {
      faultArmed = false
      if (rows.nonEmpty) rows.init else Seq(bogus)
    }

  def maybeCorrupt(hits: Seq[Hit]): Seq[Hit] =
    corrupt(hits, Hit("S1", -1L, "-1", "", "", "", 1.0))
}

final case class MetricDecl(name: String, unit: String)

object Main {
  val Workloads = Seq("rag_query", "analytics_suite")

  private def usage(msg: String): Nothing = {
    System.err.println(s"[perfbench] $msg")
    sys.exit(2)
  }

  def main(argv: Array[String]): Unit = {
    val flags = Set("--gen-digest", "--fingerprint", "--inject-fault")
    val opts = mutable.HashMap.empty[String, String]
    var i = 0
    while (i < argv.length) {
      if (flags(argv(i))) { opts(argv(i)) = "true"; i += 1 }
      else if (i + 1 < argv.length) { opts(argv(i)) = argv(i + 1); i += 2 }
      else usage(s"missing value for ${argv(i)}")
    }
    def opt(k: String, default: String = null): String =
      opts.getOrElse(k, Option(default).getOrElse(usage(s"missing $k")))
    val seed = opt("--seed", "1").toLong
    val seconds = opt("--seconds", "10").toInt
    val benchDir = Paths.get(opt("--bench-dir"))

    if (opts.contains("--gen-digest")) {
      val q = Inputs.ragQuery(seed, Rag.QueryDocs, Rag.QueryTopics,
        math.round(seconds * Rag.QueryQuestionsPerSecond).toInt, Rag.AppendDocs)
      println(s"rag_query ${Inputs.digest(q.docs ++ q.append.docs,
        q.warmup ++ q.questions ++ q.append.questions)}")
      sys.exit(0)
    }

    val workload = opt("--workload")
    if (!opts.contains("--fingerprint") && !Workloads.contains(workload))
      usage(s"unknown workload $workload (one of ${Workloads.mkString(", ")})")
    val traced = opt("--trace", "0") == "1"
    val (e2e, perLayer) = declaredMetrics(Paths.get("BENCHMARK.json"))
    val workDir = Paths.get(opt("--work-dir"))
    val outDir = Paths.get(opt("--out-dir"))
    val cores = Runtime.getRuntime.availableProcessors()

    val spark = graft.Sessions.local(cores.toString)
    val sessionS = ManagementFactory.getRuntimeMXBean.getUptime / 1e3
    val tracer = new Tracer(traced)
    val counters = if (traced) Some(new SparkCounters(spark)) else None
    val ctx = new Ctx(spark, tracer, counters, seed, seconds, opts.contains("--inject-fault"),
      workDir, benchDir)
    val provenance = Seq(
      "workload" -> s""""$workload"""", "seed" -> seed.toString, "seconds" -> seconds.toString,
      "trace" -> traced.toString, "head" -> s""""${opt("--head", "unknown")}"""",
      "dirty" -> s""""${opt("--dirty", "unknown")}"""",
      "source_sha" -> s""""${opt("--source-sha", "unknown")}"""",
      "nproc" -> cores.toString, "spark_master" -> s""""${spark.sparkContext.master}"""",
      "max_heap_mb" -> (Runtime.getRuntime.maxMemory / (1 << 20)).toString,
      "spark_version" -> s""""${spark.version}"""",
      "java_version" -> s""""${System.getProperty("java.version")}"""",
      "load_before" -> opt("--load-before", "null"))
    println(provenance.map { case (k, v) => s""""$k":$v""" }.mkString("""{"run":{""", ",", "}}"))

    if (opts.contains("--fingerprint")) {
      Suite.fingerprint(ctx)
      spark.stop()
      sys.exit(if (ctx.failures.isEmpty) 0 else 1)
    }

    workload match {
      case "rag_query" => Rag.runQuery(ctx, sessionS)
      case "analytics_suite" => Suite.run(ctx, sessionS)
    }
    ctx.put("rss_peak_mb", rssPeakMb())
    ctx.info(f"rss_peak_mb: ${ctx.values("rss_peak_mb")}%.1f")
    if (traced) {
      SparkCounters.metrics(ctx.opCounts.toSeq).foreach { case (k, v) => ctx.put(k, v) }
      counters.foreach(_.stop())
      val stem = s"$workload-seed$seed"
      tracer.write(outDir.resolve("trace").resolve(s"$stem.spans.jsonl"))
      writeCounts(outDir.resolve("trace").resolve(s"$stem.counts.jsonl"), ctx.opCounts.toSeq)
      println(s"spans written to ${outDir.getFileName}/trace/$stem.spans.jsonl")
    }
    spark.stop()

    val declared = if (traced) perLayer else e2e
    val missing = declared.filterNot(m => ctx.values.contains(m.name)).map(_.name)
    // A per-layer metric of a layer this workload does not run reads 0;
    // every end-to-end metric must be measured.
    if (!traced && missing.nonEmpty) ctx.check(ok = false, s"end-to-end metrics not measured: $missing")
    val nonFinite = declared.filter(m => ctx.values.get(m.name).exists(v => v.isNaN || v.isInfinite))
    ctx.check(nonFinite.isEmpty, s"metrics without a finite value: ${nonFinite.map(_.name)}")
    val shown = declared.map(m => m -> ctx.values.getOrElse(m.name, 0.0))
      .map { case (m, v) => (m, if (v.isNaN || v.isInfinite) 0.0 else v) }
    shown.foreach { case (m, v) => println(f"  ${m.name}%-36s $v%14.6f ${m.unit}") }
    val resultsFile = outDir.resolve("results").resolve(s"$workload.json")
    if (!traced) writeValues(resultsFile, e2e.map(m => m.name -> ctx.values.getOrElse(m.name, 0.0)))
    else printOverhead(ctx, e2e, resultsFile)
    ctx.failures.take(20).foreach(f => println(s"check failed: $f"))

    val metricsJson = shown.map { case (m, v) =>
      s""""${m.name}":{"value":${num(v)},"unit":"${m.unit}"}"""
    }.mkString("{", ",", "}")
    val correct = ctx.failures.isEmpty
    println(s"""{"correct":$correct,"attempted":${math.max(1, ctx.attempted)},""" +
      s""""failed":${ctx.failed},"metrics":$metricsJson}""")
    System.out.flush()
    sys.exit(if (correct) 0 else 1)
  }

  private def num(v: Double): String =
    if (v == math.rint(v) && math.abs(v) < 1e15) v.toLong.toString else v.toString

  def declaredMetrics(path: Path): (Seq[MetricDecl], Seq[MetricDecl]) = {
    if (!Files.exists(path)) usage(s"$path not found; run from the repository root")
    val root = new ObjectMapper().readTree(path.toFile)
    def list(key: String) = root.get(key).elements().asScala.toSeq
      .map(n => MetricDecl(n.get("name").asText(), n.get("unit").asText()))
    (list("end_to_end"), list("per_layer"))
  }

  /** Peak resident set of this process (VmHWM), in MB. */
  def rssPeakMb(): Double =
    Files.readAllLines(Paths.get("/proc/self/status")).asScala
      .find(_.startsWith("VmHWM:")).map(_.split("\\s+")(1).toDouble / 1024.0)
      .getOrElse(Runtime.getRuntime.totalMemory / 1048576.0)

  private def writeValues(path: Path, values: Seq[(String, Double)]): Unit = {
    Files.createDirectories(path.getParent)
    Files.write(path, values.map { case (k, v) => s""""$k":${num(v)}""" }
      .mkString("{", ",", "}\n").getBytes(StandardCharsets.UTF_8))
  }

  private def writeCounts(path: Path, ops: Seq[OpCounts]): Unit = {
    Files.createDirectories(path.getParent)
    val lines = ops.zipWithIndex.map { case (o, i) =>
      s"""{"op":$i,"jobs":${o.jobs},"stages":${o.stages},"tasks":${o.tasks},""" +
        s""""task_busy_s":${o.taskBusyS},"task_cpu_s":${o.taskCpuS},"gc_s":${o.gcS},""" +
        s""""scan_bytes":${o.scanBytes},"shuffle_bytes":${o.shuffleBytes},""" +
        s""""driver_s":${o.driverS},"wall_s":${o.wallS}}"""
    }
    Files.write(path, (lines.mkString("\n") + "\n").getBytes(StandardCharsets.UTF_8))
  }

  /** Tracing overhead: each end-to-end metric of this traced run against
    * the last untraced run of the same workload in this checkout. */
  private def printOverhead(ctx: Ctx, e2e: Seq[MetricDecl], untracedFile: Path): Unit = {
    val stepNames = Seq("search.embed_query", "search.anchors", "vector_search.knn",
      "vector_search.post", "search.context")
    val perOp = ctx.tracer.selfSeconds
      .filter { case (s, _) => Rag.timedOp(s.op) && (s.name == "search" || stepNames.contains(s.name)) }
      .groupBy(_._1.op).values.toSeq
    if (perOp.exists(_.exists(_._1.name == "vector_search.knn"))) {
      val steps = Rag.median(perOp.map(_.filter(x => stepNames.contains(x._1.name)).map(_._2).sum))
      val op = Rag.median(perOp.map(_.map(_._2).sum))
      println(f"traced search, median over ops: step self times sum to $steps%.4f s of a " +
        f"$op%.4f s op (the rest is stitching between steps)")
    }
    if (!Files.exists(untracedFile)) {
      println("tracing overhead: no untraced run of this workload to compare with")
      return
    }
    val base = new ObjectMapper().readTree(untracedFile.toFile)
    e2e.foreach { m =>
      val t = ctx.values.getOrElse(m.name, Double.NaN)
      val u = Option(base.get(m.name)).map(_.asDouble()).getOrElse(Double.NaN)
      println(f"tracing overhead ${m.name}%-20s traced $t%12.4f untraced $u%12.4f " +
        f"(${(t / u - 1) * 100}%+.1f %%) ${m.unit}")
    }
  }
}
