package perfbench

import java.math.{MathContext, BigDecimal => JBigDecimal}
import java.nio.charset.StandardCharsets
import java.nio.file.Files

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.ObjectMapper
import org.apache.spark.sql.Row

import graft.SparkEntry

/** analytics_suite: a fixed set of the engine's `SparkEntry.queries`
  * over the committed sf0.01 tables (`perfbench/data/sf0.01`), each
  * collected and checked against a fingerprint committed beside the
  * benchmark.
  *
  * A sequential pass of all 130 queries takes ~55 s warm and ~90 s cold
  * on a 4-core box, more than one run can spend. A run therefore times
  * the 15 queries named in `data/suite_fingerprints.json` (at least one
  * from each of the 13 groups), warmed by two untimed passes (billed to
  * setup_s), in an order permuted by the seed. The set is the same for
  * every seed: different subsets per seed would make the run-to-run
  * spread a property of the subsets, not of the engine. */
object Suite {
  final case class Entry(name: String, group: String, rows: Long, hash: Option[String])

  val Groups = Seq("aggregates", "filters", "joins", "windows", "scalarsAndSets", "llmOps",
    "vectorOps", "timeSeries", "engineOps", "fixtureOps", "pipelineOps",
    "sourcesAndScalars", "sinksAndJdbc")

  private def dataDir(ctx: Ctx) = ctx.benchDir.resolve("data").resolve("sf0.01").toAbsolutePath.toString
  private def fingerprintFile(ctx: Ctx) = ctx.benchDir.resolve("data").resolve("suite_fingerprints.json")

  /** Canonical text of a value: doubles at 10 significant digits (the
    * last bits of a sum depend on partitioning), timestamps as epoch
    * micros, maps in key order. */
  def canon(v: Any): String = v match {
    case null => "∅"
    case d: Double =>
      if (d.isNaN || d.isInfinite) d.toString
      else new JBigDecimal(d).round(new MathContext(10)).stripTrailingZeros.toPlainString
    case f: Float => canon(f.toDouble)
    case b: JBigDecimal => b.stripTrailingZeros.toPlainString
    case t: java.sql.Timestamp => s"ts${t.getTime / 1000 * 1000000 + t.getNanos / 1000}"
    case t: java.time.Instant => s"ts${t.getEpochSecond * 1000000 + t.getNano / 1000}"
    case b: Array[Byte] => b.map(x => f"$x%02x").mkString("0x", "", "")
    case r: Row => r.toSeq.map(canon).mkString("(", ",", ")")
    case m: scala.collection.Map[_, _] =>
      m.toSeq.map { case (k, x) => canon(k) + "→" + canon(x) }.sorted.mkString("{", ",", "}")
    case s: scala.collection.Seq[_] => s.map(canon).mkString("[", ",", "]")
    case other => other.toString
  }

  /** Order-insensitive fingerprint: the wrapping sum of each row's
    * 64-bit SHA-256 prefix. */
  def fingerprint(rows: Seq[Row]): String = {
    var sum = 0L
    rows.foreach { r =>
      val d = java.security.MessageDigest.getInstance("SHA-256")
        .digest(canon(r).getBytes(StandardCharsets.UTF_8))
      sum += java.nio.ByteBuffer.wrap(d, 0, 8).getLong
    }
    f"$sum%016x"
  }

  /** The timed queries, in their committed order. */
  def load(ctx: Ctx): Seq[Entry] = {
    val root = new ObjectMapper().readTree(fingerprintFile(ctx).toFile)
    root.get("queries").fields().asScala.map { e =>
      val n = e.getValue
      Entry(e.getKey, n.get("group").asText(), n.get("rows").asLong(),
        Option(n.get("hash")).filterNot(_.isNull).map(_.asText()))
    }.toSeq
  }

  val WarmPasses = 2
  // Each query's latency is the median of this many timed passes, so one
  // GC pause or scheduler stall does not set it.
  val TimedPasses = 3

  def run(ctx: Ctx, sessionS: Double): Unit = {
    val spark = ctx.spark
    val d = dataDir(ctx)
    val queries = SparkEntry.queries
    val (entries, gone) = load(ctx).partition(e => queries.contains(e.name))
    ctx.check(gone.isEmpty, s"timed queries missing from SparkEntry.queries: ${gone.map(_.name)}")
    val order = new scala.util.Random(ctx.seed).shuffle(entries)

    // Two untimed passes: a query's second run in a fresh JVM is still
    // compiling its hot paths.
    val w0 = System.nanoTime()
    for (_ <- 0 until WarmPasses) order.foreach(e => queries(e.name)(spark, d).collect())
    ctx.put("setup_s", sessionS + (System.nanoTime() - w0) / 1e9)
    ctx.info(s"sizes: data=sf0.01 queries=${order.size} of ${queries.size}")

    val lat = mutable.ArrayBuffer.empty[(Entry, Double)]
    for (p <- 0 until TimedPasses; (e, i) <- order.zipWithIndex) {
      ctx.attempt(s"query ${e.name}") {
        val (rows, s) = ctx.timedOp(p * order.size + i, s"suite.${e.group}")(
          queries(e.name)(spark, d).collect().toSeq)
        lat += e -> s
        val got = ctx.corrupt(rows, Row("bogus"))
        ctx.check(got.size == e.rows, s"query ${e.name}: ${got.size} rows, fingerprint has ${e.rows}") &&
          ctx.check(e.hash.forall(_ == fingerprint(got)),
            s"query ${e.name}: result hash ${fingerprint(got)} != fingerprint ${e.hash.get}")
      }
    }
    ctx.info("pass_s: " + lat.grouped(order.size).map(ps => "%.3f".format(ps.map(_._2).sum)).mkString(" "))
    val perQuery = lat.groupBy(_._1).map { case (e, xs) => e -> Rag.median(xs.map(_._2).toSeq) }
    ctx.put("op_p50_s", Rag.median(perQuery.values.toSeq))
    ctx.put("ops_per_s", perQuery.size / perQuery.values.sum)
    val jobs = ctx.opCounts.map(_.jobs)
    Groups.foreach { g =>
      val inGroup = perQuery.filter(_._1.group == g)
      if (inGroup.nonEmpty) ctx.put(s"suite.$g.s", inGroup.values.sum / inGroup.size)
      val idx = lat.indices.filter(i => lat(i)._1.group == g)
      if (idx.nonEmpty && jobs.nonEmpty) ctx.put(s"suite.$g.jobs", idx.map(jobs(_)).sum.toDouble / idx.size)
    }
  }

  /** Recompute the committed fingerprints of the timed queries: cold
    * pass then warm pass; a query whose two passes disagree is checked on
    * its row count only. */
  def fingerprint(ctx: Ctx): Unit = {
    val spark = ctx.spark
    val d = dataDir(ctx)
    val queries = SparkEntry.queries
    val lines = load(ctx).map { e =>
      val f = queries(e.name)
      val cold = fingerprint(f(spark, d).collect().toSeq)
      val rows = f(spark, d).collect().toSeq
      val h = fingerprint(rows)
      val hash = if (h == cold) s""""$h"""" else "null"
      s"""    "${e.name}": {"group": "${e.group}", "rows": ${rows.size}, "hash": $hash}"""
    }
    val json = s"""{\n  "data": "sf0.01",\n  "spark": "${spark.version}",\n  "queries": {\n""" +
      lines.mkString(",\n") + "\n  }\n}\n"
    Files.write(fingerprintFile(ctx), json.getBytes(StandardCharsets.UTF_8))
    println(s"wrote ${lines.size} fingerprints to ${fingerprintFile(ctx)}")
  }
}
